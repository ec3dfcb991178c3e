package graft.core

/** Outlink extraction from raw HTML bytes — the web-graph side of the
  * extraction kernel: every `<a href>` with its canonicalized anchor text,
  * in document order. Feeds host-graph analytics (link-based curation,
  * host ranking) the way the text kernel feeds the corpus.
  *
  * A sink on [[Html.parse]], the grammar the text kernel runs on, so both
  * views of a document agree on what is markup (comments/CDATA/doctype/
  * PI consumed silently, raw-text elements skipped wholesale, a '<' that
  * opens no tag is literal text). Only `<a>` and `<img>` tags pay for
  * attribute scanning, through [[Html.Tag.attr]].
  *
  * Anchor semantics: text runs between `<a href=...>` and `</a>`
  * (entity-decoded, [[Canonicalizer.block]]-canonicalized); a new `<a>`
  * inside an open anchor implicitly closes it (browser behavior — nested
  * anchors are invalid HTML); `<a>` without href is a named anchor, not a
  * link, and is skipped; EOF closes an open anchor (tolerant).
  */
object Links {

  final case class Link(href: String, anchor: String)

  def outlinks(html: Array[Byte], deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Link] =
    outlinksOf(Html.decode(html), deadline)

  def outlinksOf(s: String, deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Link] = {
    val sink = new OutlinkSink
    Html.parse(s, sink, deadline)
    sink.emit() // EOF closes an open anchor
    sink.out.result()
  }

  private final class OutlinkSink extends Html.Sink {
    val out = Vector.newBuilder[Link]
    private val anchor = new java.lang.StringBuilder(64)
    private var inA = false
    private var href: String = null

    def emit(): Unit = {
      if (inA && href != null && href.nonEmpty)
        out += Link(href, Canonicalizer.blockOf(anchor))
      inA = false
      href = null
      anchor.setLength(0)
    }

    def startTag(t: Html.Tag): Unit = if (t.name == "a") {
      emit() // implicit close of any open anchor
      val h = t.attr("href")
      if (!t.selfClosing) { inA = true; href = h }
      else if (h != null && h.nonEmpty) out += Link(h, "") // <a href=... /> has no text
    }

    override def endTag(t: Html.Tag): Unit = if (t.name == "a") emit()

    override def text(s: String, from: Int, to: Int): Unit =
      if (inA) Html.appendDecoded(anchor, s, from, to)
  }

  /** One harvested `<img>`: src, the alt VALUE, and whether alt was
    * present at all — `alt=""` (hasAlt, empty) is the spec's
    * decorative-image marker while a MISSING alt is an accessibility
    * defect and a lost caption; the two must stay distinguishable.
    */
  final case class Img(src: String, alt: String, hasAlt: Boolean)

  def images(html: Array[Byte],
      deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Img] =
    imagesOf(Html.decode(html), deadline)

  /** `<img>` harvest — the caption-mining scanner (alt text is the
    * cheapest image-caption pair source on the web) on [[outlinksOf]]'s
    * grammar: comments/CDATA skipped whole, script/style/textarea/
    * noscript bodies are RAWTEXT (an `<img` inside a script string is
    * NOT an image — pinned), end tags never emit (a stray `</img>` is
    * not a phantom image), attribute values quoted or unquoted, names
    * ASCII-case-insensitive, entities decoded, first-wins per
    * attribute. `img` is a void element, so self-closing and plain
    * forms are identical.
    */
  def imagesOf(s: String,
      deadline: Html.Deadline = Html.Deadline.unlimited): Vector[Img] = {
    val out = Vector.newBuilder[Img]
    Html.parse(s, new Html.Sink {
      def startTag(t: Html.Tag): Unit = if (t.name == "img") {
        val src = t.attr("src")
        val alt = t.attr("alt")
        out += Img(if (src == null) "" else src, if (alt == null) "" else alt, alt != null)
      }
    }, deadline)
    out.result()
  }
}
