package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import graft.sources.OfficeFixtures

/** Seeded input generator shared by the three workloads.
  *
  * Everything here is a pure function of (seed, size): the program under
  * test only ever sees the rows this object renders. The structure the
  * output checks rely on is planted here and returned beside the inputs:
  * topics (relevance sets for retrieval recall), empty and undecodable
  * files, exact and near duplicates, eval-set contamination, boilerplate
  * lines, repetitive spam and non-BMP text.
  */
object Gen {

  // ------------------------------------------------------------ vocabulary

  /** 4400 distinct pseudo-words of 3–9 random letters, identical for
    * every seed (random letters keep character n-grams as varied as in
    * natural text, which character-shingle dedup depends on). */
  val vocab: Array[String] = {
    val r = new scala.util.Random(7)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 4400)
      seen += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }
  val generalWords: Int = 4000
  val topics: Int = 12
  val topicWidth: Int = 10
  /** Topic t owns vocab(4000 + 10t until 4000 + 10t + 10): no general word
    * is ever a topic word, so a topic query's relevance set is exact. */
  def topicWord(t: Int, i: Int): String = vocab(generalWords + t * topicWidth + i)

  /** Zipf(0.8) over the general words: a realistic skew that still passes
    * the repetition gate on ordinary documents. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(generalWords)(i => 1.0 / math.pow(i + 1, 0.8))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  def generalWord(r: scala.util.Random): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = generalWords - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
    vocab(lo)
  }

  def rng(seed: Long, stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream * 7919L + 17L)

  /** Words for a document of topic `t`: one in four is a topic word. */
  def words(r: scala.util.Random, t: Int, n: Int): Seq[String] =
    (0 until n).map(_ =>
      if (r.nextInt(4) == 0) topicWord(t, r.nextInt(topicWidth)) else generalWord(r))

  /** Log-normal byte size clamped to [lo, hi]. */
  def logNormal(r: scala.util.Random, median: Double, sigma: Double,
                lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, (median * math.exp(sigma * r.nextGaussian())).toInt))

  /** Zipf-skewed choice among `n` items (weight 1/(i+1)^s). */
  def zipfPick(r: scala.util.Random, n: Int, s: Double): Int = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The same zip with every entry's time pinned, so office files are a
    * function of the seed alone (zip entries otherwise carry the clock). */
  def stableZip(zip: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(zip))
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.ZipOutputStream(bos)
    Iterator.continually(in.getNextEntry).takeWhile(_ != null).foreach { e =>
      val n = new java.util.zip.ZipEntry(e.getName)
      n.setTime(315532800000L)
      out.putNextEntry(n)
      out.write(in.readAllBytes())
      out.closeEntry()
    }
    out.close()
    bos.toByteArray
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  // --------------------------------------------------- ingest/serve files

  val apps: Int = 8
  val kinds: Seq[String] = Seq("txt", "md", "docx", "xlsx", "pdf")

  /** One generated file plus the facts the checks need about it. */
  case class FileDoc(id: Long, filename: String, bytes: Array[Byte],
                     kind: String, topic: Int, appId: String,
                     folder: String, endUser: String, metaJson: String,
                     category: String, year: Int, priority: Int,
                     createdAt: Long, planted: Option[String]) {
    def digestBytes: Array[Byte] =
      utf8(s"$id|$filename|$kind|$topic|$appId|$folder|$endUser|$metaJson|$createdAt|$planted|") ++ bytes
  }

  /** The category a doc's metadata names: 12 values, Zipf(1.0), so an
    * equality filter selects roughly 3%–32% of a tenant. */
  def category(r: scala.util.Random): String = s"c${zipfPick(r, 12, 1.0)}"

  private def metaJson(cat: String, year: Int, prio: Int, r: scala.util.Random,
                       t: Int): String = {
    val rating = f"${r.nextInt(500) / 100.0}%.2f"
    val tags = (0 until 1 + r.nextInt(3)).map(_ => "\"" + topicWord(t, r.nextInt(topicWidth)) + "\"")
    val month = 1 + r.nextInt(12)
    s"""{"category": "$cat", "year": $year, "priority": $prio, "rating": $rating, """ +
      s""""published": ${r.nextBoolean()}, "created": "$year-${f"$month%02d"}-15T10:30:00", """ +
      s""""tags": [${tags.mkString(", ")}]}"""
  }

  /** Text paragraphs reaching about `bytes` UTF-8 bytes. */
  def paragraphs(r: scala.util.Random, t: Int, bytes: Int): Seq[String] = {
    val out = ArrayBuffer[String]()
    var size = 0
    while (size < bytes) {
      val p = words(r, t, 40 + r.nextInt(50)).mkString(" ") + "."
      out += p; size += p.length + 2
    }
    out.toSeq
  }

  /** The formats of a block of 20 files: 7 txt, 7 md, 2 each docx/xlsx/pdf. */
  private val kindBlock: Seq[String] =
    Seq.fill(7)("txt") ++ Seq.fill(7)("md") ++ Seq("docx", "docx", "xlsx", "xlsx", "pdf", "pdf")

  /** The tenants of a block of 40 files: app0 … app7 in Zipf(1.2) shares. */
  private val appBlock: Seq[Int] =
    Seq(17, 7, 5, 3, 3, 2, 2, 1).zipWithIndex.flatMap { case (c, a) => Seq.fill(c)(a) }

  /** `n` files with ids `firstId until firstId + n`: 70% txt/md, 10% each
    * docx/xlsx/pdf, exactly so in every block of 20 files; sizes
    * log-normal in 1–64 KB (1–11 chunks at the default 6000/300 splitter);
    * 8 Zipf-sized tenants, exactly so in every block of 40 files; a
    * 3-deep folder tree; with `junk`, one file in
    * every 100, at a seeded place, empty or (in every other 100)
    * undecodable, planted and named. */
  def files(seed: Long, n: Int, firstId: Long = 0L, stream: Long = 1L,
            junk: Boolean = true, plainOnly: Boolean = false): Seq[FileDoc] = {
    val r = rng(seed, stream)
    var block = Seq.empty[String]
    var tenants = Seq.empty[Int]
    var junkAt = -1
    (0 until n).map { i =>
      if (i % kindBlock.size == 0) block = r.shuffle(kindBlock)
      if (i % appBlock.size == 0) tenants = r.shuffle(appBlock)
      if (junk && i % 100 == 0) junkAt = i + r.nextInt(100)
      val id = firstId + i
      val t = r.nextInt(topics)
      val app = s"app${tenants(i % appBlock.size)}"
      val folder = s"/f${r.nextInt(3)}/f${r.nextInt(3)}/f${r.nextInt(3)}"
      val user = s"u${r.nextInt(32)}"
      val cat = category(r)
      val year = 2000 + r.nextInt(25)
      val prio = 1 + r.nextInt(5)
      val meta = metaJson(cat, year, prio, r, t)
      val created = 1700000000L + r.nextInt(10000000)
      val kind = if (plainOnly) "txt" else block(i % kindBlock.size)
      val size = logNormal(r, 4500, 0.9, 1024, 65536)
      if (i == junkAt && (i / 100) % 2 == 0)
        FileDoc(id, s"doc$id.txt", Array.emptyByteArray, "txt", t, app, folder,
          user, meta, cat, year, prio, created, Some("empty"))
      else if (i == junkAt) {
        // high-bit random bytes under a binary format's name: not a zip,
        // not a pdf, and not text (plain-text names decode as Latin-1)
        val b = Array.fill(512 + r.nextInt(2048))((0x80 | r.nextInt(128)).toByte)
        val ext = Seq("pdf", "docx", "xlsx")(r.nextInt(3))
        FileDoc(id, s"doc$id.$ext", b, ext, t, app, folder, user, meta, cat,
          year, prio, created, Some("undecodable"))
      } else {
        val ps = paragraphs(r, t, size)
        val bytes = kind match {
          case "txt"  => utf8(ps.mkString("\n\n"))
          case "md"   => utf8(s"# ${topicWord(t, 0)} ${vocab(i % generalWords)}\n\n" +
            ps.zipWithIndex.map { case (p, j) =>
              if (j % 4 == 3) s"## ${p.split(' ').take(3).mkString(" ")}\n\n$p" else p
            }.mkString("\n\n"))
          case "docx" => stableZip(OfficeFixtures.docx(ps))
          case "xlsx" =>
            val cells = ps.flatMap(_.split(' ').grouped(3).map(_.mkString(" ")))
            stableZip(OfficeFixtures.xlsx(Seq("Sheet1" -> cells.grouped(6).toSeq)))
          case "pdf"  =>
            val lines = ps.flatMap(_.split(' ').grouped(12).map(_.mkString(" ")))
            OfficeFixtures.pdfPages(lines.grouped(30).toSeq)
        }
        FileDoc(id, s"doc$id.$kind", bytes, kind, t, app, folder, user, meta,
          cat, year, prio, created, None)
      }
    }
  }

  /** Plain-text documents a serve write ingests (16 per write). */
  case class TextDoc(id: Long, text: String, topic: Int, appId: String,
                     folder: String, endUser: String, metaJson: String,
                     category: String, year: Int, priority: Int, createdAt: Long)

  def textDocs(seed: Long, n: Int, firstId: Long, stream: Long): Seq[TextDoc] =
    files(seed, n, firstId, stream, junk = false, plainOnly = true).map(f =>
      TextDoc(f.id, new String(f.bytes, StandardCharsets.UTF_8), f.topic, f.appId,
        f.folder, f.endUser, f.metaJson, f.category, f.year, f.priority, f.createdAt))

  // ------------------------------------------------------- serve queries

  /** A read: the kind, the query text (3 topic words of `topic` plus one
    * general word), the tenant, an optional metadata DSL filter, and the
    * `listing` parameters. `filter` is also kept as a predicate so the
    * benchmark can evaluate it on its own, outside Spark. */
  case class Filter(json: String, pred: FileDocMeta => Boolean)
  case class FileDocMeta(category: String, year: Int, priority: Int)
  case class Read(kind: String, query: String, topic: Int, appId: String,
                  filter: Option[Filter], folderPrefix: Option[String], skip: Int)

  /** Filters with selectivities from about 1% to 50% of a tenant. */
  def filter(r: scala.util.Random, template: Int): Filter = template match {
    case 0 =>
      val c = category(r)
      Filter(s"""{"category": "$c"}""", _.category == c)
    case 1 =>
      val y = 2000 + r.nextInt(25)
      Filter(s"""{"year": {"$$gte": $y}}""", _.year >= y)
    case 2 =>
      val c = category(r); val p = 1 + r.nextInt(5)
      Filter(s"""{"$$and": [{"category": "$c"}, {"priority": {"$$lte": $p}}]}""",
        m => m.category == c && m.priority <= p)
    case _ =>
      val lo = 2000 + r.nextInt(20); val hi = lo + 2 + r.nextInt(10)
      Filter(s"""{"$$and": [{"year": {"$$gte": $lo}}, {"year": {"$$lt": $hi}}]}""",
        m => m.year >= lo && m.year < hi)
  }

  /** The `slot`-th new read of its kind in a run: kind `k` visits the
    * tenants (Zipf-sized, so tenant size varies) in the order k, k+3,
    * k+6, ... and the filter templates (one in five unfiltered) in turn,
    * so every run sees the same tenant and filter mix per kind; the query
    * and the filter values come from `r`. */
  def read(r: scala.util.Random, kind: String, k: Int, slot: Int): Read = {
    val t = r.nextInt(topics)
    val q = (Seq.fill(3)(topicWord(t, r.nextInt(topicWidth))) :+ generalWord(r)).mkString(" ")
    val app = s"app${(k + 3 * slot) % apps}"
    val template = (k + slot) % 5
    val f = if (kind == "list" || kind == "multivector" || template == 4) None
            else Some(filter(r, template))
    val prefix = if (kind == "list" && r.nextBoolean()) Some(s"/f${r.nextInt(3)}") else None
    Read(kind, q, t, app, f, prefix, if (kind == "list") 20 * r.nextInt(3) else 0)
  }

  // ------------------------------------------------------- curate corpus

  /** The planted facts of a curation corpus. */
  case class CurateCorpus(docs: Seq[(Long, String)], evalDocs: Seq[(Long, String)],
                          exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)],
                          contaminated: Seq[Long], spam: Seq[Long]) {
    def digest: String = Gen.digest(
      (docs.iterator ++ evalDocs.iterator).map { case (i, t) => utf8(s"$i\u0000$t\u0001") } ++
        Iterator(utf8(s"$exactGroups|$nearPairs|$contaminated|$spam")))
  }

  private val boilerplate: Seq[String] = {
    val r = new scala.util.Random(11)
    (0 until 10).map(_ => (0 until 9).map(_ => vocab(r.nextInt(200))).mkString(" "))
  }
  private val nonBmp = Seq("𝔘𝔫𝔦", "😀",
    "📚", "𠀋𠀌")

  /** About `n` short docs (0.3–2 KB, 3–8 lines): ~10% exact duplicates,
    * ~10% near duplicates (~5% of tokens replaced), ~2% carrying a 13-word
    * span of an eval document, ~1% repetitive spam, boilerplate lines on
    * ~30% of docs and non-BMP symbols on ~5%. Ids are a seeded shuffle, so
    * a copy is as likely to sort before its original as after it. */
  def curate(seed: Long, n: Int): CurateCorpus = {
    val r = rng(seed, 3)
    val nEval = math.max(20, n / 250)
    val evalDocs = (0 until nEval).map(i =>
      (i.toLong, words(r, r.nextInt(topics), 40 + r.nextInt(40)).mkString(" ")))
    val nOrig = (n * 0.78).toInt
    def line(t: Int): String = words(r, t, 8 + r.nextInt(22)).mkString(" ")
    def body(): String = {
      val t = r.nextInt(topics)
      val target = logNormal(r, 800, 0.5, 300, 2000)
      val ls = ArrayBuffer[String]()
      var size = 0
      while (size < target || ls.size < 3) { val l = line(t); ls += l; size += l.length + 1 }
      if (r.nextInt(10) < 3) ls.insert(r.nextInt(ls.size + 1), boilerplate(r.nextInt(boilerplate.size)))
      if (r.nextInt(20) == 0) ls(0) = ls(0) + " " + nonBmp(r.nextInt(nonBmp.size))
      ls.mkString("\n")
    }
    // roles: 0 plain original, 1 contaminated, 2 spam
    val originals = (0 until nOrig).map { _ =>
      val u = r.nextDouble()
      if (u < 0.025) {
        val (_, ev) = evalDocs(r.nextInt(nEval))
        val ew = ev.split(' ')
        val s = r.nextInt(ew.length - 13)
        val b = body().split('\n')
        b(r.nextInt(b.length)) = ew.slice(s, s + 13).mkString(" ")
        (b.mkString("\n"), 1)
      } else if (u < 0.038) {
        val phrase = Seq.fill(3)(generalWord(r)).mkString(" ")
        (Seq.fill(12 + r.nextInt(12))(phrase).grouped(4).map(_.mkString(" ")).mkString("\n"), 2)
      } else (body(), 0)
    }
    val plainIdx = originals.indices.filter(originals(_)._2 == 0)
    val nDup = (n * 0.11).toInt
    val nNear = n - nOrig - nDup
    // exact copies (1–3 per source) and near copies, both of plain originals
    val dupSrc = ArrayBuffer[Int]()
    while (dupSrc.size < nDup) {
      val s = plainIdx(r.nextInt(plainIdx.size))
      (0 until 1 + r.nextInt(3)).foreach(_ => if (dupSrc.size < nDup) dupSrc += s)
    }
    val dupSet = dupSrc.toSet
    val nearCandidates = plainIdx.filterNot(dupSet)
    val nearSrc = r.shuffle(nearCandidates).take(nNear)
    def nearCopy(s: String): String = s.split('\n').map { l =>
      l.split(' ').map(w => if (r.nextInt(20) == 0) generalWord(r) else w).mkString(" ")
    }.mkString("\n")
    val texts = originals.map(_._1) ++ dupSrc.map(originals(_)._1) ++
      nearSrc.map(i => nearCopy(originals(i)._1))
    val ids = r.shuffle((0L until texts.size.toLong).toVector)
    val docs = texts.indices.map(i => (ids(i), texts(i)))
    val exactGroups = dupSrc.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, copies) => ids(src) +: copies.map(c => ids(nOrig + c._2)).toSeq
    }
    val nearPairs = nearSrc.zipWithIndex.map { case (src, j) => (ids(src), ids(nOrig + nDup + j)) }
    val contaminated = originals.indices.filter(originals(_)._2 == 1).map(ids(_))
    val spam = originals.indices.filter(originals(_)._2 == 2).map(ids(_))
    CurateCorpus(docs, evalDocs, exactGroups, nearPairs, contaminated, spam)
  }
}
