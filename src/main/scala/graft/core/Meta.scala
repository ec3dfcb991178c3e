package graft.core

/** Document-metadata scanner: the first `<title>` and first `<h1>` text
  * of a page — the two fields a corpus metadata/index table wants next
  * to the extracted body (titles drive search display, citation and
  * title-based dedup heuristics; the h1 is the de-facto on-page
  * headline). Reference analog: the service returns hOCR whose first
  * page title carries document identity (`src/models/responses.py:60-69`);
  * here the fields are first-class columns.
  *
  * A sink on [[Html.parse]], so its markup rules are the kernel's:
  * comments, CDATA, doctype and PIs are consumed silently; script/style/
  * textarea/noscript bodies never leak; a `<` that opens no tag is
  * literal text; nested inline markup inside `<h1>` contributes its text
  * runs only. `<title>` is RCDATA per the HTML spec — nothing inside it
  * opens a tag, everything up to the first `</title` is (entity-decoded)
  * text ([[Html.Tag.bodyEnd]]). Both fields are
  * [[Canonicalizer]]-canonicalized like every other text surface of the
  * kernel. First occurrence wins for both.
  */
object Meta {

  final case class DocMeta(title: String, h1: String)

  def metaOf(html: Array[Byte], deadline: Html.Deadline = Html.Deadline.unlimited): DocMeta =
    scan(Html.decode(html), deadline)

  def scan(s: String, deadline: Html.Deadline = Html.Deadline.unlimited): DocMeta = {
    val sink = new MetaSink(s)
    Html.parse(s, sink, deadline)
    sink.result()
  }

  private final class MetaSink(s: String) extends Html.Sink {
    private var title: String = null
    private var h1: String = null
    private val buf = new java.lang.StringBuilder(64)
    private var inH1 = false
    // events starting before this offset lie inside a <title> element
    // (its RCDATA body or close tag) and are text, not markup
    private var titleEnd = 0

    private def closeH1(): Unit = {
      if (inH1 && h1 == null) h1 = Canonicalizer.blockOf(buf)
      inH1 = false
      buf.setLength(0)
    }

    def startTag(t: Html.Tag): Unit = if (t.start >= titleEnd) {
      if (t.name == "title" && !t.selfClosing) {
        val k = t.bodyEnd
        if (title == null) {
          val tb = new java.lang.StringBuilder(k - t.end)
          Html.appendDecoded(tb, s, t.end, k)
          title = Canonicalizer.blockOf(tb)
        }
        titleEnd = t.closeEnd(k)
      } else if (t.name == "h1") {
        closeH1() // implicit close (browser: headings never nest)
        if (!t.selfClosing) inH1 = true
      }
    }

    override def endTag(t: Html.Tag): Unit =
      if (t.start >= titleEnd && t.name == "h1") closeH1()

    override def text(s: String, from: Int, to: Int): Unit =
      if (inH1 && from >= titleEnd) Html.appendDecoded(buf, s, from, to)

    def result(): DocMeta = {
      closeH1() // EOF closes an open h1 (tolerant)
      DocMeta(if (title == null) "" else title, if (h1 == null) "" else h1)
    }
  }
}
