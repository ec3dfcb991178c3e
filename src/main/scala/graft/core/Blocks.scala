package graft.core

import scala.collection.mutable.ArrayBuffer

/** Text block with density features, built from the token stream with a
  * tag-path stack (SURVEY.md par 7.2 items 2-3; north_star: "text-density +
  * link-density block classification with a tag-path stack").
  *
  * @param text      canonical (NFC + collapsed) block text
  * @param tagPath   '/'-joined lowercase open-element path at block start
  * @param words     whitespace-token count of `text`
  * @param linkWords words that occurred inside an <a> element
  * @param inBoiler  block sits under a structural-boilerplate element
  *                  (nav/header/footer/aside/form/figure/button/select)
  * @param inContent block sits under an explicit content element
  *                  (article/main)
  */
final case class Block(
    text: String,
    tagPath: String,
    words: Int,
    linkWords: Int,
    inBoiler: Boolean,
    inContent: Boolean,
) {
  def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
}

object BlockBuilder {

  /** Elements that delimit text blocks. */
  val blockTags: Set[String] = Set(
    "p", "div", "article", "section", "main", "aside", "nav", "header",
    "footer", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl",
    "dt", "dd", "td", "th", "tr", "table", "thead", "tbody", "tfoot",
    "blockquote", "pre", "br", "hr", "form", "figure", "figcaption",
    "fieldset", "legend", "address", "details", "summary", "body",
  )

  /** Void elements: never pushed on the stack. */
  val voidTags: Set[String] = Set(
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
  )

  /** Structural boilerplate containers: their text is never main content. */
  val boilerTags: Set[String] = Set(
    "nav", "header", "footer", "aside", "form", "button", "select",
    "option", "label", "figure", "head", "title",
  )

  /** Explicit content containers. */
  val contentTags: Set[String] = Set("article", "main")

  private def countWords(s: String): Int = {
    var c = 0; var in = false; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }

  /** Word count over raw (un-canonicalized) text: non-whitespace runs,
    * using the same whitespace set the Canonicalizer collapses — identical
    * count, no allocation (NFC never alters whitespace-ness).
    */
  private def countWordsRaw(s: String): Int = {
    var c = 0; var in = false; var i = 0
    while (i < s.length) {
      if (Canonicalizer.isSpace(s.charAt(i))) in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }

  /** Consume the token stream into classified-ready blocks. The
    * reference for [[buildStreaming]], which production runs.
    */
  def build(toks: Iterator[Html.Tok]): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val stack = ArrayBuffer.empty[String]
    var anchorDepth = 0
    var boilerDepth = 0
    var contentDepth = 0
    val buf = new java.lang.StringBuilder
    var blockPath = "" // path snapshot at first text of the current block
    var pendingLinkWords = 0 // words seen inside <a> in the current block
    var blockBoiler = false
    var blockContent = false

    def currentPath(): String = stack.mkString("/")

    def flush(): Unit = {
      if (buf.length == 0) { pendingLinkWords = 0; return }
      val raw = buf.toString
      buf.setLength(0)
      val canon = Canonicalizer.block(raw)
      val lw = pendingLinkWords
      pendingLinkWords = 0
      if (canon.nonEmpty) {
        out += Block(
          text = canon,
          tagPath = blockPath,
          words = countWords(canon),
          linkWords = lw,
          inBoiler = blockBoiler,
          inContent = blockContent,
        )
      }
    }

    toks.foreach {
      case Html.StartTag(name, selfClosing) =>
        if (blockTags.contains(name)) flush()
        if (!voidTags.contains(name) && !selfClosing) {
          stack += name
          if (name == "a") anchorDepth += 1
          if (boilerTags.contains(name)) boilerDepth += 1
          if (contentTags.contains(name)) contentDepth += 1
        }
      case Html.EndTag(name) =>
        if (blockTags.contains(name)) flush()
        // pop to the matching open tag (tolerates unclosed intermediates)
        val idx = stack.lastIndexOf(name)
        if (idx >= 0) {
          var k = stack.length - 1
          while (k >= idx) {
            val t = stack.remove(k)
            if (t == "a") anchorDepth -= 1
            if (boilerTags.contains(t)) boilerDepth -= 1
            if (contentTags.contains(t)) contentDepth -= 1
            k -= 1
          }
        }
      case Html.Text(t) =>
        val hadText = buf.length > 0
        if (!hadText) {
          blockPath = currentPath()
          blockBoiler = boilerDepth > 0
          blockContent = contentDepth > 0
        } else {
          // a block spanning into/out of boiler scope stays conservative
          blockBoiler = blockBoiler || boilerDepth > 0
        }
        if (anchorDepth > 0) pendingLinkWords += countWordsRaw(t)
        buf.append(t)
        buf.append(' ') // token boundary between text runs; collapsed later
    }
    flush()
    out.result()
  }

  /** Streaming builder over [[Html.parse]] — byte-identical output to
    * [[build]](tokenize) (pinned by KernelSpec) with near-zero transient
    * allocation: text runs land in one buffer via bulk entity-aware
    * appends, the tag path is a checkpointed StringBuilder instead of a
    * per-block mkString, and no token objects exist at all.
    */
  def buildStreaming(html: String, deadline: Html.Deadline): Vector[Block] = {
    val sink = new StreamSink
    Html.parse(html, sink, deadline)
    sink.finish()
  }

  private final class StreamSink extends Html.Sink {
    private val out = Vector.newBuilder[Block]
    private val stack = ArrayBuffer.empty[String]
    private val pathSb = new java.lang.StringBuilder
    private val pathLens = ArrayBuffer.empty[Int] // pathSb length before each push
    private var anchorDepth = 0
    private var boilerDepth = 0
    private var contentDepth = 0
    private val buf = new java.lang.StringBuilder
    private var blockPath = ""
    private var pendingLinkWords = 0
    private var blockBoiler = false
    private var blockContent = false

    private def flush(): Unit = {
      if (buf.length == 0) { pendingLinkWords = 0; return }
      val canon = Canonicalizer.blockOf(buf)
      buf.setLength(0)
      val lw = pendingLinkWords
      pendingLinkWords = 0
      if (canon.nonEmpty) {
        out += Block(
          text = canon,
          tagPath = blockPath,
          words = countWords(canon),
          linkWords = lw,
          inBoiler = blockBoiler,
          inContent = blockContent,
        )
      }
    }

    def startTag(tag: Html.Tag): Unit = {
      val name = tag.name
      if (blockTags.contains(name)) flush()
      if (!voidTags.contains(name) && !tag.selfClosing) {
        stack += name
        pathLens += pathSb.length
        if (pathSb.length > 0) pathSb.append('/')
        pathSb.append(name)
        if (name == "a") anchorDepth += 1
        if (boilerTags.contains(name)) boilerDepth += 1
        if (contentTags.contains(name)) contentDepth += 1
      }
    }

    override def endTag(tag: Html.Tag): Unit = {
      val name = tag.name
      if (blockTags.contains(name)) flush()
      val idx = stack.lastIndexOf(name)
      if (idx >= 0) {
        var k = stack.length - 1
        while (k >= idx) {
          val t = stack.remove(k)
          pathSb.setLength(pathLens.remove(k))
          if (t == "a") anchorDepth -= 1
          if (boilerTags.contains(t)) boilerDepth -= 1
          if (contentTags.contains(t)) contentDepth -= 1
          k -= 1
        }
      }
    }

    override def text(s: String, from: Int, to: Int): Unit = {
      val b0 = buf.length
      Html.appendDecoded(buf, s, from, to)
      val b1 = buf.length
      if (b1 == b0) return // run decoded to nothing (e.g. only &shy;)
      if (b0 == 0) {
        blockPath = pathSb.toString
        blockBoiler = boilerDepth > 0
        blockContent = contentDepth > 0
      } else {
        blockBoiler = blockBoiler || boilerDepth > 0
      }
      if (anchorDepth > 0) pendingLinkWords += countWordsIn(buf, b0, b1)
      buf.append(' ') // token boundary between text runs; collapsed later
    }

    def finish(): Vector[Block] = { flush(); out.result() }
  }

  /** [[countWordsRaw]] over a buffer range (same whitespace set). */
  private def countWordsIn(sb: java.lang.StringBuilder, from: Int, to: Int): Int = {
    var c = 0; var in = false; var i = from
    while (i < to) {
      if (Canonicalizer.isSpace(sb.charAt(i))) in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }
}

/** Boilerpipe/Readability-class density rules with a Trafilatura-style
  * precision-to-recall fallback ladder (north_star). Deterministic: fixed
  * thresholds, no randomness, order-stable.
  */
object BoilerplateClassifier {

  /** DEFAULT thresholds are part of the golden contract (SURVEY.md par 7.5
    * item 2): changing any default is a golden-regeneration event. The
    * primary/smoothing thresholds are overridable per run via
    * [[HtmlParams]] (validated at plan build).
    */
  val maxLinkDensity = 0.33
  val minWordsDense = 10
  val neighborMinWords = 4
  val fallbackMaxLinkDensity = 0.55
  val fallbackMinWords = 3

  /** Pass 1 precision rules; pass 2 Boilerpipe-style neighbor smoothing;
    * fallback ladder if nothing classified as content.
    */
  def classify(blocks: Vector[Block], params: HtmlParams = HtmlParams()): Vector[Block] = {
    if (blocks.isEmpty) return Vector.empty
    val maxLd = params.maxLinkDensity
    val minWd = params.minWordsDense

    val primary: Array[Boolean] = blocks.map { b =>
      !b.inBoiler && (
        (b.inContent && b.words >= 1 && b.linkDensity < 0.66) ||
          (b.words >= minWd && b.linkDensity <= maxLd)
      )
    }.toArray

    // neighbor smoothing: a shortish low-link block between content blocks
    // is content (Boilerpipe NumberWordsRulesClassifier-style context rule)
    val smoothed = primary.clone()
    var i = 0
    while (i < blocks.length) {
      if (!smoothed(i)) {
        val b = blocks(i)
        val prevC = i > 0 && primary(i - 1)
        val nextC = i + 1 < blocks.length && primary(i + 1)
        if (!b.inBoiler && b.words >= neighborMinWords && b.linkDensity <= maxLd && (prevC || nextC))
          smoothed(i) = true
      }
      i += 1
    }

    val kept = blocks.indices.collect { case j if smoothed(j) => blocks(j) }.toVector
    if (kept.nonEmpty) return kept

    // fallback rung 1: relax density + length (recall over precision)
    val rung1 = blocks.filter(b => !b.inBoiler && b.words >= fallbackMinWords && b.linkDensity < fallbackMaxLinkDensity)
    if (rung1.nonEmpty) return rung1

    // fallback rung 2: anything textual outside structural boilerplate
    val rung2 = blocks.filter(b => !b.inBoiler && b.words >= 1 && b.linkDensity < 1.0)
    if (rung2.nonEmpty) return rung2

    Vector.empty // content-free page: status stays ok with empty text
  }
}
