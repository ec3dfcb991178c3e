package graft.core

import scala.collection.mutable.ArrayBuffer

/** HTML table-structure extraction — the STRUCTURED leg of the
  * extraction kernel: where [[Blocks]] recovers prose from boilerplate,
  * this recovers the (table, row, column, header) grid from `<table>`
  * markup, the shape a training pipeline needs to linearize tables
  * deliberately (markdown-ize, drop, or caption them) instead of
  * letting cell fragments smear into the prose stream.
  *
  * A sink on [[Html.parse]], the kernel's own grammar, with the
  * leniency real tables demand:
  *
  *   - omitted `</td>` / `</tr>` close tags are LEGAL HTML — a new
  *     `<td>`/`<th>`/`<tr>` implicitly closes the open cell/row
  *     (browser parser behavior, pinned);
  *   - NESTED tables get their own table index (document order of
  *     `<table>` opens), and the inner table's text does NOT leak into
  *     the outer cell — the outer cell's accumulation pauses while the
  *     inner context is on the stack and resumes after `</table>`;
  *   - a `<td>` with no enclosing `<tr>` opens an implicit row; an
  *     unclosed table at EOF emits what it saw (error-as-data, never a
  *     throw);
  *   - text outside any open cell (directly inside `tr`/`table`) is
  *     dropped, as browsers foster it out of the table.
  *
  * Cell text is entity-decoded and whitespace-normalized (trim +
  * collapse runs) so the cell value is the rendered string, not the
  * markup bytes. `colIdx` is the CELL ORDINAL within its row — colspan
  * is not read, so there is no grid resolution; documented drop.
  *
  * Reference analog: hOCR/layout structure recovery
  * (/root/reference/src/services/ocr/dynamic_routes.py:188-251 returns
  * structured regions, not flat text); this is the HTML-side equivalent.
  */
object Tables {

  /** One extracted cell. Indices 0-based; `header` iff the cell came
    * from `<th>`.
    */
  final case class Cell(tableIdx: Int, rowIdx: Int, colIdx: Int,
                        header: Boolean, text: String)

  private final class Ctx(val idx: Int) {
    var row: Int = -1
    var col: Int = -1
    var inCell: Boolean = false
    var header: Boolean = false
    val sb = new java.lang.StringBuilder
  }

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

  /** Extract every table cell from `html`, document order. Total: any
    * byte stream yields a (possibly empty) cell list, never a throw.
    */
  def extract(html: String,
              deadline: Html.Deadline = Html.Deadline.unlimited): Seq[Cell] = {
    val out = ArrayBuffer.empty[Cell]
    var nextTable = 0
    var stack = List.empty[Ctx]
    def flushCell(): Unit = stack match {
      case c :: _ if c.inCell =>
        out += Cell(c.idx, c.row, c.col, c.header, normalize(c.sb.toString))
        c.sb.setLength(0)
        c.inCell = false
      case _ => ()
    }
    val sink = new Html.Sink {
      def startTag(t: Html.Tag): Unit = if (!t.selfClosing) t.name match {
        case "table" =>
          // an open outer cell pauses; the new context owns all text
          stack = new Ctx(nextTable) :: stack
          nextTable += 1
        case "tr" if stack.nonEmpty =>
          flushCell()
          val c = stack.head
          c.row += 1; c.col = -1
        case n @ ("td" | "th") if stack.nonEmpty =>
          flushCell()
          val c = stack.head
          if (c.row < 0) c.row = 0 // td with no tr: implicit first row
          c.col += 1
          c.inCell = true
          c.header = n == "th"
        case _ => ()
      }
      override def endTag(t: Html.Tag): Unit = t.name match {
        case "table" if stack.nonEmpty =>
          flushCell()
          stack = stack.tail
        case "td" | "th" | "tr" => flushCell()
        case _ => ()
      }
      override def text(s: String, from: Int, to: Int): Unit = stack match {
        case c :: _ if c.inCell => Html.appendDecoded(c.sb, s, from, to)
        case _ => () // fostered text: outside any cell, dropped
      }
    }
    try Html.parse(html, sink, deadline)
    catch { case _: Html.TimeoutException => () } // partial grid is data
    while (stack.nonEmpty) { flushCell(); stack = stack.tail } // EOF leniency
    out.toSeq
  }

  /** Deterministic synthetic pages for the driver query — kinds by
    * id % 5, each pinning one extractor semantic: a clean header+data
    * grid with dims a function of the id; the SAME logical grid written
    * with every optional close tag omitted (must parse identically); a
    * nested table whose inner text must not leak into the outer cell;
    * two sibling tables with entity-bearing cells; a page with no table
    * at all (zero rows, not an error).
    */
  def synthetic(id: Long): String = {
    (id % 5) match {
      case 0 =>
        val rows = 1 + (id % 3).toInt
        val cols = 2 + (id % 2).toInt
        val head = (0 until cols).map(c => s"<th>h${c}_$id</th>").mkString
        val body = (0 until rows).map { r =>
          "<tr>" + (0 until cols).map(c => s"<td>c${r}_${c}_$id</td>").mkString + "</tr>"
        }.mkString
        s"<html><body><p>noise $id</p><table><tr>$head</tr>$body</table><p>tail</p></body></html>"
      case 1 => // omitted </td> and </tr> everywhere: legal, same grid
        s"<table><tr><td>m00_$id<td>m01_$id<tr><td>m10_$id<td>m11_$id</table>"
      case 2 => // nested: outer cell text 'out <id>' wraps the inner table
        s"<table><tr><td>out <table><tr><td>in${id}_0</td><td>in${id}_1</td></tr></table> $id</td></tr></table>"
      case 3 =>
        s"<table><tr><td>x &amp; y ${id}_0</td></tr></table>" +
          s"<table><tr><td>x &amp; y ${id}_1</td></tr></table>"
      case _ =>
        s"<html><body><p>no tables here $id</p></body></html>"
    }
  }
}
