package graft.operators

import java.nio.charset.StandardCharsets

import graft.functions.text

/** Content-type detection and filename/storage-key normalization, porting
  * `core/storage/utils_file_extensions.py` (detect_content_type,
  * is_colpali_native_format) and the v2 ingest helpers
  * (`core/services/v2_document_service.py:101-128,187-193`). Precedence is
  * the reference's exactly: magic-byte sniff → cleaned hint → filename
  * extension → printable-ratio text heuristic → octet-stream. All pure
  * deterministic byte/string compute — safe anywhere in an executor.
  */
object ContentType {

  /** MIME types ColPali ingests natively (images plus these). */
  val colpaliNativeMimeTypes: Set[String] = Set(
    "application/pdf",
    "application/dicom",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "application/msword",
    "application/vnd.ms-powerpoint",
    "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "application/vnd.openxmlformats-officedocument.presentationml.slideshow")

  private val genericTypes = Set(
    "application/octet-stream", "binary/octet-stream", "application/x-octet-stream")

  private val extMimes = Map(
    "txt" -> "text/plain", "md" -> "text/markdown", "html" -> "text/html",
    "htm" -> "text/html", "csv" -> "text/csv", "json" -> "application/json",
    "xml" -> "application/xml", "pdf" -> "application/pdf",
    "png" -> "image/png", "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg",
    "gif" -> "image/gif", "bmp" -> "image/bmp",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "pptx" -> "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "zip" -> "application/zip")

  private def startsWith(b: Array[Byte], magic: Int*): Boolean =
    b.length >= magic.length && magic.zipWithIndex.forall { case (m, i) =>
      (b(i) & 0xff) == m }

  /** Magic-byte sniff (the `filetype.guess` role). Zip containers probe the
    * OOXML content-types entry to distinguish docx/xlsx/pptx from plain
    * zip — same information `filetype`'s office matchers read. */
  def sniffMagic(content: Array[Byte]): Option[String] = {
    if (content == null || content.isEmpty) None
    else if (startsWith(content, 0x25, 0x50, 0x44, 0x46)) Some("application/pdf") // %PDF
    else if (startsWith(content, 0x89, 0x50, 0x4e, 0x47)) Some("image/png")
    else if (startsWith(content, 0xff, 0xd8, 0xff)) Some("image/jpeg")
    else if (startsWith(content, 0x47, 0x49, 0x46, 0x38)) Some("image/gif")
    else if (startsWith(content, 0x42, 0x4d)) Some("image/bmp")
    else if (startsWith(content, 0x50, 0x4b, 0x03, 0x04)) Some(sniffZip(content))
    else None
  }

  private def sniffZip(content: Array[Byte]): String =
    try {
      // stream entry HEADERS only — never decompress bodies (a hostile or
      // merely large container would otherwise cost full decompression just
      // to learn its flavor), and stop at the first telling prefix
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        var e = zin.getNextEntry
        while (e != null) {
          val n = e.getName
          if (n.startsWith("word/")) return extMimes("docx")
          if (n.startsWith("xl/")) return extMimes("xlsx")
          if (n.startsWith("ppt/")) return extMimes("pptx")
          e = zin.getNextEntry
        }
      } finally zin.close()
      "application/zip"
    } catch { case _: Exception => "application/zip" }

  /** `_looks_like_text`: valid UTF-8 with >= 90% printable/space chars in
    * the first 8 KiB. The sample boundary may cut a multi-byte character in
    * half — trim the incomplete trailing sequence (up to 3 continuation
    * prefix bytes) before the strict decode, so a Chinese/emoji text file
    * longer than the sample is not misclassified as binary. */
  def looksLikeText(content: Array[Byte], sampleSize: Int = 8192): Boolean = {
    if (content == null || content.isEmpty) return true
    var sample = content.take(sampleSize)
    if (content.length > sampleSize) {
      // walk back over a possibly-incomplete final UTF-8 sequence: at most
      // 3 continuation bytes (10xxxxxx) plus one lead byte (11xxxxxx)
      var end = sample.length
      var back = 0
      while (back < 3 && end > 0 && (sample(end - 1) & 0xc0) == 0x80) {
        end -= 1; back += 1
      }
      if (end > 0 && (sample(end - 1) & 0xc0) == 0xc0) end -= 1
      else end = sample.length // last byte is ASCII or a complete sequence
      sample = sample.take(end)
    }
    val decoded =
      try {
        val dec = StandardCharsets.UTF_8.newDecoder()
        dec.decode(java.nio.ByteBuffer.wrap(sample)).toString
      } catch { case _: Exception => return false }
    if (decoded.isEmpty) return true
    // Python `ch.isprintable() or ch.isspace()`: separators (Zs/Zl/Zp) and
    // whitespace pass via isspace; everything in the Other categories
    // (Cc control, Cf format — ZWSP/ZWJ/BOM, Co private-use, Cn unassigned)
    // is NOT printable. Walk CODE POINTS, not UTF-16 units — Python
    // iterates code points, so an astral char (emoji) is ONE printable
    // char, not two SURROGATE units; counting units would misclassify
    // emoji-heavy text as binary.
    var printable = 0; var total = 0; var i = 0
    while (i < decoded.length) {
      val cp = decoded.codePointAt(i)
      total += 1
      val t = Character.getType(cp)
      val ok = Character.isWhitespace(cp) || Character.isSpaceChar(cp) ||
        (t != Character.CONTROL && t != Character.FORMAT &&
          t != Character.SURROGATE && t != Character.PRIVATE_USE &&
          t != Character.UNASSIGNED)
      if (ok) printable += 1
      i += Character.charCount(cp)
    }
    printable.toDouble / total >= 0.9
  }

  /** `detect_content_type`: sniff → cleaned hint → extension → text
    * heuristic → octet-stream. */
  def detect(content: Option[Array[Byte]], filename: Option[String],
             contentTypeHint: Option[String]): String = {
    val hint = contentTypeHint
      .map(h => text.fold(h.split(";", 2)(0).trim))
      .filter(h => h.nonEmpty && !genericTypes(h))
    content.filter(_.nonEmpty).flatMap(sniffMagic)
      .orElse(hint)
      .orElse(filename.flatMap { f =>
        val i = f.lastIndexOf('.')
        if (i >= 0 && i < f.length - 1) extMimes.get(text.fold(f.substring(i + 1)))
        else None
      })
      // empty bytes are falsy in the reference's `if content and
      // _looks_like_text(content)` — they must fall through to octet-stream
      .orElse(content.filter(_.nonEmpty).filter(looksLikeText(_)).map(_ => "text/plain"))
      .getOrElse("application/octet-stream")
  }

  /** `is_colpali_native_format`. */
  def isColpaliNative(mime: Option[String]): Boolean =
    mime.exists(m => m.startsWith("image/") || colpaliNativeMimeTypes(m))

  /** `_strip_xml_tags`: drop tags, collapse whitespace, unescape the
    * common entities (named five + numeric). */
  def stripXmlTags(text: String): String = {
    val noTags = text.replaceAll("<[^>]+>", " ")
    val collapsed = noTags.replaceAll("\\s+", " ").trim
    // hex branch takes hex digits, decimal branch DIGITS ONLY (a stray
    // "&#ab;" must not reach parseInt), length-capped so oversized values
    // can't overflow; anything malformed or out of Unicode range passes
    // through untouched — dirty crawl text must never kill a task
    val numeric = "&#(?:x([0-9a-fA-F]{1,6})|([0-9]{1,7}));".r
    val unescapedNums = numeric.replaceAllIn(collapsed, m => {
      val code =
        if (m.group(1) != null) Integer.parseInt(m.group(1), 16)
        else Integer.parseInt(m.group(2))
      val out = if (Character.isValidCodePoint(code))
        new String(Character.toChars(code))
      else m.matched
      java.util.regex.Matcher.quoteReplacement(out)
    })
    unescapedNums
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
      .replace("&amp;", "&") // last, so &amp;lt; decodes to &lt; not <
  }

  /** `_normalize_text_filename`, deterministic: the caller supplies the
    * unique id (the reference draws uuid4 — serving-side nondeterminism
    * kept out of the engine). */
  def normalizeTextFilename(filename: Option[String], content: String,
                            idHex: String): String = {
    def needsHtml: Boolean = {
      val head = text.fold(content.dropWhile(_.isWhitespace))
      head.startsWith("<!doctype html") || head.contains("<html")
    }
    filename.map(_.trim).filter(_.nonEmpty) match {
      case None => s"document_text_$idHex${if (needsHtml) ".html" else ".txt"}"
      case Some(f) =>
        val i = f.lastIndexOf('.')
        if (i > 0 && i < f.length - 1) f
        else s"$f${if (needsHtml) ".html" else ".txt"}"
    }
  }

  /** `_build_storage_key`: ingest_uploads/<id>/<safe name>, with a sniffed
    * extension appended when the name carries none. */
  def buildStorageKey(filename: Option[String], content: Array[Byte],
                      idHex: String): (String, String) = {
    // split drops trailing empties, so "/" yields a ZERO-length array —
    // lastOption, never .last
    val safe0 = filename.flatMap(f =>
      f.split("[/\\\\]").lastOption.filter(_.nonEmpty))
      .getOrElse("uploaded_file")
    val hasExt = { val i = safe0.lastIndexOf('.'); i > 0 && i < safe0.length - 1 }
    val mimeToExt = Map(
      "application/pdf" -> ".pdf", "image/png" -> ".png",
      "image/jpeg" -> ".jpg", "image/gif" -> ".gif", "image/bmp" -> ".bmp",
      extMimes("docx") -> ".docx", extMimes("xlsx") -> ".xlsx",
      extMimes("pptx") -> ".pptx", "application/zip" -> ".zip")
    val detectedExt =
      if (hasExt) None
      else sniffMagic(content).flatMap(mimeToExt.get)
    val safe = detectedExt.map(safe0 + _).getOrElse(safe0)
    (s"ingest_uploads/$idHex/$safe", safe)
  }
}
