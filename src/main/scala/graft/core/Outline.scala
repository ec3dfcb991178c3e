package graft.core

import scala.collection.mutable.ArrayBuffer

/** Heading-outline extraction — the document STRUCTURE leg of the
  * kernel ([[Tables]] recovers grids; this recovers the h1–h6 section
  * tree): each document becomes a sequence of sections, one per
  * heading, carrying the heading level, its title, the BREADCRUMB PATH
  * of enclosing headings, and the prose under it. This is the
  * section-aware chunking primitive: training and retrieval pipelines
  * split long documents at section boundaries and prepend the
  * breadcrumb ("API > Authentication > Tokens") so a chunk keeps its
  * context — naive fixed-window chunking severs exactly that.
  *
  * Semantics (each pinned by a spec case):
  *   - the breadcrumb is a STACK keyed by heading level: a new heading
  *     of level L pops everything at level >= L, then pushes itself —
  *     so h2 after h3 pops the h3 (siblings replace), and SKIPPED
  *     levels (h1 straight to h3) nest under the last shallower
  *     heading, exactly how readers interpret such documents;
  *   - text before the first heading is the PREAMBLE: section index 0,
  *     level 0, empty title and path (emitted only when it has text —
  *     a page that opens with its h1 has no empty phantom row);
  *   - a heading opened but never closed at EOF keeps the title text
  *     seen so far (error-as-data, never a throw);
  *   - a heading that opens while another heading's title is still
  *     accumulating closes it implicitly (omitted-closer leniency,
  *     the [[Tables]] rule).
  *
  * A sink on [[Html.parse]]. Title and body text are entity-decoded and
  * whitespace-normalized; body text inside nested non-heading markup
  * (b/a/span...) contributes its text, tags vanish.
  */
object Outline {

  /** One section. `path` joins the breadcrumb titles with " > "
    * (including this section's own title); the preamble has
    * `level == 0` and empty title/path.
    */
  final case class Section(idx: Int, level: Int, title: String,
                           path: String, text: String)

  private def headingLevel(name: String): Int =
    if (name.length == 2 && name.charAt(0) == 'h' &&
      name.charAt(1) >= '1' && name.charAt(1) <= '6') name.charAt(1) - '0'
    else 0

  /** Block-level boundaries insert a word break between text runs —
    * `<p>a</p><p>b</p>` reads "a b"; inline markup (`<b>bo</b>ld`)
    * stays fused ("bold"). The normalize pass collapses any run of
    * inserted breaks.
    */
  private val blockTags = Set("p", "div", "br", "li", "ul", "ol",
    "blockquote", "pre", "table", "tr", "td", "th", "section", "article",
    "header", "footer", "body", "html")

  private def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) pendingSpace = sb.length > 0
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Extract the section outline of `html`, document order. Total. */
  def extract(html: String,
              deadline: Html.Deadline = Html.Deadline.unlimited): Seq[Section] = {
    val out = ArrayBuffer.empty[Section]
    // breadcrumb stack: (level, title), shallowest first
    var crumbs = List.empty[(Int, String)]
    var nextIdx = 0
    var curLevel = 0
    var curTitle = ""
    var curPath = ""
    val body = new java.lang.StringBuilder
    var sawSection = false // becomes true once the preamble or a heading opens
    // while >0, we are inside an open <hN> capturing its title
    var openHeading = 0
    val titleBuf = new java.lang.StringBuilder
    def emitCurrent(): Unit = {
      val text = normalize(body.toString)
      body.setLength(0)
      // the preamble only exists if it has text; heading sections always emit
      if (curLevel > 0 || text.nonEmpty)
        out += Section(nextIdx, curLevel, curTitle, curPath, text)
      if (curLevel > 0 || text.nonEmpty) nextIdx += 1
    }
    def closeHeading(): Unit = if (openHeading > 0) {
      val title = normalize(titleBuf.toString)
      titleBuf.setLength(0)
      crumbs = (openHeading, title) :: crumbs.dropWhile(_._1 >= openHeading)
      curLevel = openHeading
      curTitle = title
      curPath = crumbs.reverse.map(_._2).mkString(" > ")
      openHeading = 0
    }
    def target = if (openHeading > 0) titleBuf else body
    val sink = new Html.Sink {
      def startTag(t: Html.Tag): Unit = {
        val level = headingLevel(t.name)
        if (level > 0) {
          if (!t.selfClosing) {
            closeHeading() // a heading inside a heading closes it implicitly
            if (sawSection || body.length > 0) emitCurrent()
            sawSection = true
            openHeading = level
          }
        } else if (blockTags(t.name)) target.append(' ')
      }
      override def endTag(t: Html.Tag): Unit =
        if (headingLevel(t.name) > 0) { if (openHeading > 0) closeHeading() }
        else if (blockTags(t.name)) target.append(' ')
      override def text(s: String, from: Int, to: Int): Unit =
        Html.appendDecoded(target, s, from, to)
    }
    try Html.parse(html, sink, deadline)
    catch { case _: Html.TimeoutException => () } // partial outline is data
    closeHeading() // unclosed heading at EOF keeps its title
    emitCurrent()
    out.toSeq
  }

  /** Deterministic synthetic pages for the driver query — kinds by
    * id % 5: a flat h1 + two h2 siblings (the sibling-replace pin); a
    * preamble before the first heading; SKIPPED levels h1→h3 then h2
    * (the h2 pops the h3, nests under the h1); an unclosed h2 at EOF;
    * no headings at all (one preamble section).
    */
  def synthetic(id: Long): String = (id % 5) match {
    case 0 =>
      s"<html><body><h1>T$id</h1><p>intro $id</p>" +
        s"<h2>A$id</h2><p>alpha $id</p><h2>B$id</h2><p>beta $id</p></body></html>"
    case 1 =>
      s"<html><body><p>pre $id</p><h1>T$id</h1><p>body $id</p></body></html>"
    case 2 =>
      s"<h1>T$id</h1><p>top $id</p><h3>D$id</h3><p>deep $id</p>" +
        s"<h2>M$id</h2><p>mid $id</p>"
    case 3 => s"<p>lead $id</p><h2>U$id" // unclosed heading at EOF
    case _ => s"<html><body><p>only text $id</p><p>more $id</p></body></html>"
  }
}
