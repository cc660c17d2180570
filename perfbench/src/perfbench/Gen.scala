package perfbench

import extractous.gen._
import extractous.model.ExtractStatus
import extractous.sniff.MimeSniffer
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.SplittableRandom
import org.tukaani.xz.{LZMA2Options, XZ, XZInputStream, XZOutputStream}

/** One generated extraction input plus the output the program must produce
  * for it. `family` is the layer bucket the traced run reports under.
  */
final case class GenDoc(id: Long, url: String, day: String, family: String, payload: Array[Byte],
    expText: String, expStatus: Int, expType: String)

/** Seeded input generators. Every document is a pure function of
  * `(seed, index)`, so the same seed gives byte-identical inputs at any
  * parallelism, and every document carries its own text (no replicas, so
  * parquet compresses the corpus like real crawl text, not 19:1).
  */
object Gen {
  private val Stops = Array("the", "and", "of", "to", "in")
  val Langs: Array[String] = Array("en", "de", "es", "fr", "zh")

  /** 4096 pseudo-words of 2-3 syllables; fixed, so only the draw order
    * depends on the seed.
    */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(0x5eedL)
    val on = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "w", "z",
      "br", "ch", "st", "tr", "pl")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < 4096) {
      val sb = new StringBuilder
      (0 until 2 + r.nextInt(2)).foreach(_ => sb.append(on(r.nextInt(on.length))).append(nu(r.nextInt(nu.length))))
      if (r.nextInt(3) == 0) sb.append(on(r.nextInt(on.length)))
      val w = sb.toString
      if (!Stops.contains(w)) seen.add(w)
    }
    seen.toArray(new Array[String](0))
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ i * 0x165667B19E3779F9L)

  /** Stratified draw in [0, 1) for document `i`: golden-ratio steps from a
    * seeded start (odd streams step by sqrt(2) - 1), so every seed gets the
    * same spread of kinds and sizes, dealt to different documents.
    */
  def strat(seed: Long, stream: Long, i: Long): Double = {
    val x = rng(seed, 1000 + stream, 0).nextDouble() +
      i * (if (stream % 2 == 0) 0.6180339887498949 else 0.41421356237309515)
    x - math.floor(x)
  }

  /** Log-uniform integer in [lo, hi] at quantile `u`: the page-size shape of a crawl. */
  def logUniform(u: Double, lo: Int, hi: Int): Int =
    math.exp(math.log(lo.toDouble) + u * (math.log(hi.toDouble) - math.log(lo.toDouble))).toInt

  /** Prose-like ASCII: vocabulary words with ~15% stopwords, sentences of 8-16
    * words ending in '.', single spaces, at least `minBytes` long.
    */
  def words(r: SplittableRandom, minBytes: Int, stops: Boolean = true): String = {
    val sb = new java.lang.StringBuilder(minBytes + 16)
    var left = 8 + r.nextInt(9)
    while (sb.length < minBytes || left > 0) {
      if (sb.length > 0) sb.append(' ')
      sb.append(if (stops && r.nextInt(100) < 15) Stops(r.nextInt(Stops.length)) else Vocab(r.nextInt(Vocab.length)))
      left -= 1
      if (left == 0) {
        sb.append('.')
        if (sb.length < minBytes) left = 8 + r.nextInt(9)
      }
    }
    sb.toString
  }

  private def dayOf(id: Long): String =
    java.time.Instant.ofEpochMilli(CorpusGen.tsOf(id).getTime).toString.substring(0, 10)

  /** A document of one of CorpusGen's own kinds (`id % 100` picks the kind). */
  private def corpusDoc(id: Long, family: String, text: String, lang: String): GenDoc =
    GenDoc(id, CorpusGen.urlOf(id), dayOf(id), family, CorpusGen.payload(id, text, lang),
      CorpusGen.expectedText(id, text, lang), CorpusGen.expectedStatus(id), CorpusGen.expectedContentType(id))

  private def custom(id: Long, family: String, payload: Array[Byte], text: String, ctype: String): GenDoc =
    GenDoc(id, CorpusGen.urlOf(id), dayOf(id), family, payload, text, ExtractStatus.Ok, ctype)

  // ---- crawl_job -------------------------------------------------------

  /** `id % 100` residues of CorpusGen's plain-text kinds: UTF-8, GBK,
    * ISO-8859-1, Shift-JIS, UTF-16LE/BE and windows-1252.
    */
  private val TextResidues = Array(55, 56, 57, 58, 59, 60, 63, 64, 65, 66, 67, 68, 69)

  /** Crawl page `i`: 92% HTML, 5% plain text in the corpus charsets, 2%
    * digital PDF, 1% empty/corrupt; text 4-128 KB log-uniform.
    */
  def crawlDoc(seed: Long, i: Long): GenDoc = {
    val r = rng(seed, 1, i)
    val (m, family) = crawlKind(seed, i, r)
    val lang = Langs(r.nextInt(Langs.length))
    corpusDoc(100L * i + m, family, words(r, logUniform(strat(seed, 1, i), 4096, 131072)), lang)
  }

  private def crawlKind(seed: Long, i: Long, r: SplittableRandom): (Int, String) = {
    val u = strat(seed, 0, i)
    if (u < 0.01) (98 + r.nextInt(2), "bad")
    else if (u < 0.03) (70 + r.nextInt(12), "pdf")
    else if (u < 0.08) (TextResidues(r.nextInt(TextResidues.length)), "text")
    else (r.nextInt(52), "html")
  }

  /** `warc_day` of crawl page `i` without generating its text. */
  def crawlDay(seed: Long, i: Long): String = dayOf(100L * i + crawlKind(seed, i, rng(seed, 1, i))._1)

  // ---- doc_lake --------------------------------------------------------

  private def wrap(kind: Int, b: Array[Byte]): Array[Byte] = kind match {
    case 0 => CorpusGen.gzMember(b)
    case 1 => xz(b, XZ.CHECK_CRC32)
    case 2 => BzipWriter.bz2(b)
    case 3 => ZstdWriter.zst(b)
    case 4 => Lz4Writer.lz4(b)
    case _ => SnappyWriter.sz(b)
  }

  /** `.xz` as the `xz` tool lays it out: one block whose LZMA2 stream resets
    * the dictionary once, at its start (xz-java, preset 6 with a 256 KiB
    * dictionary, which these inputs do not fill). The repository's
    * `XzWriter` resets the dictionary every 64 KiB chunk instead, a layout
    * the program misreads (README, "Known defect").
    */
  private def xz(data: Array[Byte], check: Int): Array[Byte] = {
    val opts = new LZMA2Options(6)
    opts.setDictSize(1 << 18)
    val bos = new ByteArrayOutputStream()
    val out = new XZOutputStream(bos, opts, check)
    out.write(data)
    out.close()
    bos.toByteArray
  }

  /** An `.xz` file rewritten by [[xz]] with the same content and check type; other bytes unchanged. */
  private def asXzTool(b: Array[Byte]): Array[Byte] =
    if (b.length < 8 || b(0) != 0xFD.toByte || b(1) != '7'.toByte || b(2) != 'z'.toByte) b
    else {
      val in = new XZInputStream(new ByteArrayInputStream(b))
      try xz(in.readAllBytes(), b(7).toInt) finally in.close()
    }

  private val ArchiveTypes = Array(MimeSniffer.Zip, MimeSniffer.Tar, MimeSniffer.SevenZ, MimeSniffer.Rar)

  /** Weights (percent) of the doc_lake mix. */
  private val LakeMix: Array[(Int, String)] = Array(
    16 -> "pdf", 3 -> "scanned_pdf", 10 -> "image",
    8 -> "docx", 3 -> "xlsx", 3 -> "pptx", 2 -> "odt", 2 -> "odp",
    3 -> "doc", 3 -> "xls", 2 -> "ppt", 2 -> "msg",
    10 -> "archive", 7 -> "warc", 7 -> "wrapped",
    6 -> "eml", 5 -> "mbox", 4 -> "epub", 2 -> "ics",
    2 -> "bad")
  require(LakeMix.map(_._1).sum == 100)

  /** Non-HTML store document `i`: office, PDF, scans, archives, WARC,
    * compression wrappers and mail, text 0.5-32 KB log-uniform.
    */
  def lakeDoc(seed: Long, i: Long): GenDoc = {
    val r = rng(seed, 2, i)
    var pick = (strat(seed, 0, i) * 100).toInt
    var k = 0
    while (pick >= LakeMix(k)._1) { pick -= LakeMix(k)._1; k += 1 }
    val kind = LakeMix(k)._2
    val lang = Langs(r.nextInt(Langs.length))
    val text = words(r, logUniform(strat(seed, 1, i), 512, 32768))
    val base = 100L * i
    def stop = CorpusGen.stopLine(lang)
    kind match {
      case "pdf" => corpusDoc(base + 70 + r.nextInt(12), "pdf", text, lang)
      case "scanned_pdf" => corpusDoc(base + 96 + r.nextInt(2), "ocr", text, lang)
      case "image" => corpusDoc(base + 90 + r.nextInt(6), "ocr", text, lang)
      case "docx" => corpusDoc(base + 82 + r.nextInt(5), "office", text, lang)
      case "odt" => corpusDoc(base + 88, "office", text, lang)
      case "odp" => corpusDoc(base + 89, "office", text, lang)
      case "doc" => corpusDoc(base + 87, "office", text, lang)
      case "xls" => corpusDoc(base + 61, "office", text, lang)
      case "ppt" => corpusDoc(base + 62, "office", text, lang)
      case "eml" => corpusDoc(base + 53, "mail", text, lang)
      case "epub" => corpusDoc(base + 54, "mail", text, lang)
      case "bad" => corpusDoc(base + 98 + r.nextInt(2), "bad", text, lang)
      case "xlsx" =>
        val id = base + 1
        custom(id, "office", CorpusGen.xlsxPayload(id, text), s"Document $id\n$text", MimeSniffer.Xlsx)
      case "pptx" =>
        val id = base + 2
        custom(id, "office", CorpusGen.pptxPayload(id, text), s"Document $id\n$text", MimeSniffer.Pptx)
      case "msg" =>
        val id = base + 3
        // the CFB test writer fits one FAT sector: a UTF-16 body over ~28 KB does not
        val body = if (text.length <= 24576) text else text.substring(0, text.lastIndexOf(' ', 24576))
        custom(id, "mail", MsgWriter.msg(s"Document $id", s"Sender $id", body, unicode = r.nextBoolean()),
          s"Document $id\nSender $id\n$body", "application/vnd.ms-outlook")
      case "mbox" =>
        val id = base + 4
        custom(id, "mail", CorpusGen.mboxPayload(id, text),
          s"Document $id\n$text\nRe: Document $id\n$text\nFrom the archive of $id", MimeSniffer.Mbox)
      case "ics" =>
        val id = base + 5
        val ics = (id / 100) % 2 == 0
        custom(id, "mail", CorpusGen.calPayload(id, text),
          if (ics) s"Document $id\n$text\nRoom $id" else s"Document $id\nExample Corp $id\n$text",
          if (ics) MimeSniffer.Ics else MimeSniffer.Vcf)
      case "archive" =>
        // (id / 100) % 4 picks zip / tar (+ xz, bz2, zst, lz4, sz by id % 6) / 7z / rar
        val id = base + 6 + r.nextInt(6)
        custom(id, "container", asXzTool(CorpusGen.archivePayload(id, text, lang)),
          s"Document $id\n$stop\n$text\n$text\n$text", ArchiveTypes(((id / 100) % 4).toInt))
      case "warc" =>
        val id = base + 12 + r.nextInt(6)
        custom(id, "container", CorpusGen.warcPayload(id, text, lang),
          s"Document $id\n$stop\n$text\n$text\nCrawl note $id", MimeSniffer.Warc)
      case _ =>
        // a PDF, DOCX or UTF-8 text inside one of six single-file wrappers;
        // the wrapper is transparent: inner text and inner content type
        val inner = corpusDoc(base + Array(71, 83, 55)(r.nextInt(3)), "container", text, lang)
        inner.copy(payload = wrap(r.nextInt(6), inner.payload))
    }
  }

  // ---- curate ----------------------------------------------------------

  /** Role of each id in a block of 50: 38 base docs, 3 exact copies of base
    * 0-2, 3 one-word-edited copies of base 3-5, 2 docs quoting a benchmark
    * passage, 4 junk docs (one per gate rule).
    */
  val Block = 50
  def role(id: Long): String = {
    val k = (id % Block).toInt
    if (k < 38) "base" else if (k < 41) "exact" else if (k < 44) "near"
    else if (k < 46) "contam" else "junk"
  }
  /** Source id of an exact or near copy. */
  def sourceOf(id: Long): Long = {
    val k = (id % Block).toInt
    id - k + (if (k < 41) k - 38 else k - 41 + 3)
  }

  val BenchPassages = 64
  def benchText(seed: Long, j: Int): String = words(rng(seed, 4, j), 360).split(' ').take(60).mkString(" ")

  private def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 3, id)
    words(r, logUniform(strat(seed, 1, id), 1024, 8192))
  }

  /** Text of curate row `id`; ASCII prose that `normalize_text` leaves as is. */
  def curateText(seed: Long, id: Long): String = role(id) match {
    case "base" => baseText(seed, id)
    case "exact" => baseText(seed, sourceOf(id))
    case "near" =>
      val r = rng(seed, 5, id)
      val toks = baseText(seed, sourceOf(id)).split(' ')
      val at = r.nextInt(toks.length)
      // a fresh word that cannot collide with the vocabulary keeps the edit real
      toks(at) = "edited" + toks(at).filter(_.isLetter)
      toks.mkString(" ")
    case "contam" =>
      val r = rng(seed, 6, id)
      words(r, 120) + " " + benchText(seed, r.nextInt(BenchPassages)) + " " + words(r, 120)
    case _ =>
      val r = rng(seed, 7, id)
      (id % Block) match {
        case 46 => "zzzz " + words(r, 40)                                   // too few words
        case 47 => words(r, 1200).split(' ').map(w => s"$w #").mkString(" ") // symbol ratio
        case 48 => words(r, 1200, stops = false)                            // no stopwords
        case _ => (0 until 12).map(_ => words(r, 60) + " ...").mkString("\n") // ellipsis lines
      }
  }

  /** The content-keyed split twin: h = fold(h*31 + codepoint) mod 1e9+7. */
  def expectedSplit(text: String): String = {
    var h = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    val b = h % 100
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }
}
