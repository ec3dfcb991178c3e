package graft.core

/** Character-offset span into the extracted text — the structured
  * replacement for hOCR's element/bbox hierarchy
  * (/root/reference/src/models/responses.py:90: ocr_page/ocr_carea/
  * ocr_par/ocr_line/ocrx_word with pixel bboxes). Pixel boxes become
  * [begin, end) character offsets per the north_star.
  *
  * kind: page | block | line | word
  * path: tag path (html) or "page/<n>/col/<m>" (pdf). Word (and line)
  * spans carry `""`: their path is the enclosing block's, and word spans
  * are ~90% of all spans — repeating the block path on each would double
  * the result row's serialized size (felt at every shuffle/write at
  * 100 TB; recover it when needed with a range join on [begin,end)).
  */
final case class Span(kind: String, path: String, begin: Int, end: Int)

object Span {
  /** Interned empty path for containment-derived spans. */
  val NoPath = ""

  /** Derive word spans from canonical text: maximal runs of non-space
    * characters within [begin, end). This is the inverse of the
    * Canonicalizer's single-space join — word offsets are fully
    * determined by the text, which is why they are NOT stored.
    */
  def wordSpans(text: String, begin: Int = 0, endOpt: Int = -1): Vector[Span] = {
    val end = if (endOpt < 0) text.length else endOpt
    val out = Vector.newBuilder[Span]
    var i = begin
    while (i < end) {
      while (i < end && text.charAt(i) == ' ') i += 1
      val ws = i
      while (i < end && text.charAt(i) != ' ' && text.charAt(i) != '\n') i += 1
      if (i > ws) out += Span("word", NoPath, ws, i)
      if (i < end && text.charAt(i) == '\n') i += 1
    }
    out.result()
  }

  /** Word count of canonical text without allocating spans. */
  def wordCount(text: String): Int = {
    var c = 0; var in = false; var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch == ' ' || ch == '\n') in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }
}

/** Kernel output for one document (pre-Spark, pure). */
final case class Extracted(text: String, spans: Vector[Span], pages: Int)

/** Status taxonomy — the reference's HTTP error codes as data
  * (400/413/404/503/504 at /root/reference/src/api/middleware/
  * error_handler.py:11-63 become column values; SURVEY.md par 2.6 item 33).
  */
object Status {
  val Ok = "ok"
  val RejectedFormat = "rejected_format"
  val RejectedSize = "rejected_size"
  val Timeout = "timeout"
  val Error = "error"
  val all: Seq[String] = Seq(Ok, RejectedFormat, RejectedSize, Timeout, Error)
}

/** Content sniffing by magic bytes, like the reference's libmagic allowlist
  * (/root/reference/src/utils/validators.py:28-56; magic prefixes pinned at
  * tests/unit/utils/test_validators.py:26-48). Payload graft: webtext, so
  * the closed set is {html, pdf}.
  */
object ContentType {
  val Html = "html"
  val Pdf = "pdf"
  val Unknown = "unknown"

  private val pdfMagic = "%PDF-".getBytes("US-ASCII")

  def detect(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length == 0) return Unknown
    if (bytes.length >= 5 && startsWith(bytes, pdfMagic, 0)) return Pdf
    // HTML: optional BOM/whitespace then '<'; or a tag marker in the head
    var i = 0
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) i = 3
    while (i < bytes.length && (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' || bytes(i) == '\r')) i += 1
    if (i < bytes.length && bytes(i) == '<') return Html
    val n = math.min(bytes.length, 1024)
    if (graft.core.Html.indexOfAsciiIgnoreCase(bytes, n, "<html") >= 0 ||
      graft.core.Html.indexOfAsciiIgnoreCase(bytes, n, "<!doctype") >= 0) ContentType.Html
    else Unknown
  }

  private def startsWith(b: Array[Byte], prefix: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < prefix.length) { if (b(off + i) != prefix(i)) return false; i += 1 }
    true
  }
}

/** Validated per-engine parameters — the reference's per-request param
  * model with range validation (/root/reference/src/services/ocr/
  * registry_v2.py:427-471, specs/schemas.py:42-54). `require` at
  * construction is the 400-before-processing path: an out-of-range value
  * fails at plan build on the driver, never inside a task.
  */
final case class HtmlParams(
    maxLinkDensity: Double = 0.33,
    minWordsDense: Int = 10,
) {
  require(maxLinkDensity > 0.0 && maxLinkDensity < 1.0,
    s"maxLinkDensity must be in (0,1), got $maxLinkDensity")
  require(minWordsDense >= 1 && minWordsDense <= 10000,
    s"minWordsDense must be in [1,10000], got $minWordsDense")
}

final case class PdfParams(
    xGap: Double = 60.0,
    yGap: Double = 25.0,
) {
  require(xGap > 0.0 && xGap <= 10000.0, s"xGap must be in (0,10000], got $xGap")
  require(yGap > 0.0 && yGap <= 10000.0, s"yGap must be in (0,10000], got $yGap")
}

/** Per-format extraction kernel. The moral equivalent of the reference's
  * OCREngine.process contract (/root/reference/tests/mocks/
  * mock_engines.py:26-42), minus the filesystem: Array[Byte] in,
  * Extracted out, deterministic.
  */
trait Extractor extends Serializable {
  def name: String

  /** @throws Html.TimeoutException when the deadline expires */
  def extract(bytes: Array[Byte], deadline: Html.Deadline): Extracted

  /** Discovery metadata — parity with GET /v2/ocr/engines/{engine}/info
    * (/root/reference/src/services/ocr/registry_v2.py:367-408).
    */
  def describe: Map[String, String]
}

/** HTML main-content extractor: tokenizer -> block builder -> density
  * classifier -> canonical join, with spans. Classifier thresholds come
  * from the validated [[HtmlParams]] (the defaults are the golden
  * contract; non-default params are a caller opt-in).
  */
class HtmlExtractor(val params: HtmlParams) extends Extractor {
  val name = "html"

  def extract(bytes: Array[Byte], deadline: Html.Deadline): Extracted = {
    val decoded = Html.decode(bytes)
    val blocks = BlockBuilder.buildStreaming(decoded, deadline)
    val content = BoilerplateClassifier.classify(blocks, params)
    HtmlExtractor.assemble(content.map(b => (b.text, b.tagPath)))
  }

  def describe: Map[String, String] = Map(
    "name" -> name,
    "version" -> "1.0.0",
    "supported_formats" -> "text/html",
    "params" -> s"maxLinkDensity:double=${params.maxLinkDensity},minWordsDense:int=${params.minWordsDense}",
  )
}

/** Default-params instance + the span assembler shared with tests/goldens. */
object HtmlExtractor extends HtmlExtractor(HtmlParams()) {

  /** Build (text, spans, pages=1) from canonical (blockText, path) pairs.
    * Shared with tests and goldens.
    *
    * Stored spans are page + block (+ line for pdf) only: word offsets
    * are a pure function of the canonical text (maximal non-space runs —
    * [[Span.wordSpans]]), so persisting them would multiply every result
    * row's serialized size ~4x through every shuffle and write at 100 TB
    * for zero information. The hOCR renderer and span queries derive
    * them on demand.
    */
  def assemble(blocks: Seq[(String, String)]): Extracted = {
    val sb = new java.lang.StringBuilder
    val spans = Vector.newBuilder[Span]
    var first = true
    blocks.foreach { case (text, path) =>
      if (text.nonEmpty) {
        if (!first) sb.append('\n')
        first = false
        val b0 = sb.length
        sb.append(text)
        spans += Span("block", path, b0, sb.length)
      }
    }
    val text = sb.toString
    Extracted(text, Span("page", "page/0", 0, text.length) +: spans.result(), pages = 1)
  }
}

/** Registry of extraction kernels — the static-Scala equivalent of the
  * reference's entry-point discovery (/root/reference/src/services/ocr/
  * registry_v2.py:44-163). Construction never throws; unknown formats are
  * routed to rejected status by the pipeline, mirroring failure isolation
  * (tests/unit/services/ocr/test_registry_v2.py:68-86).
  */
object Extractors {
  val all: Map[String, Extractor] = Map(
    ContentType.Html -> HtmlExtractor,
    ContentType.Pdf -> PdfExtractor,
  )

  /** Registry with caller-supplied params — the applied-params analog of
    * the reference's per-request param resolution (registry_v2.py:427-471).
    * Default params return the shared singletons (no allocation).
    */
  def forParams(html: HtmlParams, pdf: PdfParams): Map[String, Extractor] = {
    if (html == HtmlParams() && pdf == PdfParams()) all
    else Map(
      ContentType.Html -> new HtmlExtractor(html),
      ContentType.Pdf -> new PdfExtractor(pdf),
    )
  }

  def forType(contentType: String): Option[Extractor] = all.get(contentType)
}
