package graft.core

import java.nio.charset.{Charset, StandardCharsets}
import java.util.Locale

/** SAX-style HTML tokenizer over raw bytes (SURVEY.md par 2.3 item 11a).
  *
  * From scratch, no parser library: charset detection (BOM + meta probe),
  * entity decoding, script/style/comment/CDATA skipping, tolerant of
  * malformed fragments (a stray '<' that opens no tag is text). Replaces
  * the reference's per-document engine.process black box
  * (/root/reference/src/api/routes/v2/dynamic_routes.py:231-234) with a
  * deterministic pure function; the per-document timeout
  * (dynamic_routes.py:231-234, 30 s) becomes the Deadline checked in the
  * scan loop.
  */
object Html {

  /** Tokens of the reference tokenizer [[tokenize]]. A start tag carries
    * no attributes: the block builder reads none. Scanners that read
    * attributes run on [[parse]], whose [[Tag]] view scans them lazily.
    */
  sealed trait Tok
  final case class StartTag(name: String, selfClosing: Boolean) extends Tok
  final case class EndTag(name: String) extends Tok
  final case class Text(s: String) extends Tok

  /** Per-document budget; 0 or negative => unlimited on that axis.
    *
    * Two axes: wall time (the reference's asyncio.wait_for analog) and
    * parse STEPS — one step per scan-loop iteration (one tag or one text
    * run). The step budget is the deterministic twin of the wall budget:
    * identical on every machine and run, so timeout behavior can be
    * oracle-verified (wall-clock timeouts can't be), while bounding the
    * same quantity (kernel work per document).
    */
  final class Deadline(budgetNanos: Long, budgetSteps: Long = 0L) {
    private val t0 = System.nanoTime()
    private var n = 0L
    /** Scan-loop iterations so far (calibration + tests). */
    def steps: Long = n
    def expired(): Boolean = {
      n += 1
      if (budgetSteps > 0L && n > budgetSteps) return true
      if (budgetNanos <= 0L) return false
      // amortize the nanoTime syscall: check every 256 steps
      (n & 0xffL) == 0L && System.nanoTime() - t0 > budgetNanos
    }
    def hard(): Boolean = budgetNanos > 0L && System.nanoTime() - t0 > budgetNanos
  }
  object Deadline { val unlimited = new Deadline(0L) }

  final class TimeoutException extends RuntimeException("per-document deadline exceeded")

  // ---------------------------------------------------------------- charset

  /** Detect charset: BOM first, then an ASCII probe of the first 1024 bytes
    * for a meta charset declaration, else UTF-8. Mirrors the magic-byte
    * idea of the reference's format sniffing
    * (/root/reference/src/utils/validators.py:31-56).
    */
  def detectCharset(bytes: Array[Byte]): Charset = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return StandardCharsets.UTF_8
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return StandardCharsets.UTF_16BE
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return StandardCharsets.UTF_16LE
    // byte-scan the first 1024 bytes for "charset=" (ASCII,
    // case-insensitive) — no probe String allocation per document
    val n = math.min(bytes.length, 1024)
    val i = indexOfAsciiIgnoreCase(bytes, n, "charset=")
    if (i >= 0) {
      var j = i + 8
      def at(k: Int): Char = (bytes(k) & 0xff).toChar
      if (j < n && (at(j) == '"' || at(j) == '\'')) j += 1
      val start = j
      while (j < n && {
        val c = at(j)
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == '_'
      }) j += 1
      val name = new String(bytes, start, j - start, StandardCharsets.ISO_8859_1)
        .toLowerCase(Locale.ROOT)
      try { if (Charset.isSupported(name)) return Charset.forName(name) }
      catch { case _: Exception => }
    }
    StandardCharsets.UTF_8
  }

  /** First index of the lowercase ASCII `needle` in bytes[0,n), matching
    * case-insensitively. Allocation-free.
    */
  private[core] def indexOfAsciiIgnoreCase(bytes: Array[Byte], n: Int, needle: String): Int = {
    val m = needle.length
    var i = 0
    while (i + m <= n) {
      var k = 0
      var ok = true
      while (ok && k < m) {
        var c = (bytes(i + k) & 0xff)
        if (c >= 'A' && c <= 'Z') c += 32
        if (c != needle.charAt(k)) ok = false
        k += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Decode with malformed input replaced (never throws on bad bytes).
    * `new String(bytes, cs)` replaces malformed/unmappable input exactly
    * like a REPLACE-configured CharsetDecoder, but builds the String in
    * one copy (and compact-string-compresses ASCII to 1 byte/char) where
    * the decoder path costs a CharBuffer + toString — two full copies of
    * every document. The kernel is memory-bandwidth-bound at 32 threads,
    * so document-sized copies are the scaling currency.
    */
  def decode(bytes: Array[Byte]): String = {
    val cs = detectCharset(bytes)
    val out = new String(bytes, cs)
    // strip BOM if the decoder left it as U+FEFF
    if (out.nonEmpty && out.charAt(0) == '﻿') out.substring(1) else out
  }

  // ---------------------------------------------------------------- entities

  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "trade" -> "™", "deg" -> "°",
    "middot" -> "·", "bull" -> "•", "laquo" -> "«",
    "raquo" -> "»", "times" -> "×", "shy" -> "",
    "auml" -> "ä", "ouml" -> "ö", "uuml" -> "ü",
    "Auml" -> "Ä", "Ouml" -> "Ö", "Uuml" -> "Ü",
    "szlig" -> "ß", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "ccedil" -> "ç", "ntilde" -> "ñ",
  )

  /** Case-insensitive indexOf — raw-text close tags match ASCII
    * case-insensitively in browsers (`</SCRIPT>` closes `<script>`);
    * shared by [[Tag.bodyEnd]] and the reference tokenizer so the rule
    * cannot diverge between them.
    */
  private[core] def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = math.max(0, from)
    val n = s.length - needle.length
    while (i <= n) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Decode character references in a text run. Unknown entities pass
    * through verbatim (tolerant, like browsers).
    */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    appendDecoded(sb, s, 0, s.length)
    sb.toString
  }

  /** Append s[from,to) to sb with character references decoded — the
    * zero-copy form of [[decodeEntities]]: entity-free stretches land as
    * bulk appends, no per-run substring. Hot path: the streaming parser
    * feeds every text run through here.
    */
  def appendDecoded(sb: java.lang.StringBuilder, s: String, from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      // bounded scans only: String.indexOf would run to the next '&'/';'
      // ANYWHERE in the document (or EOF), making parse quadratic in
      // runs x doc-length for entity-sparse documents
      var amp = i
      while (amp < to && s.charAt(amp) != '&') amp += 1
      if (amp == to) { sb.append(s, i, to); return }
      sb.append(s, i, amp) // entity-free prefix, bulk
      i = amp
      val c = s.charAt(i)
      val semiLimit = math.min(to, i + 13) // entity body <= 12 chars
      var semi = i + 1
      while (semi < semiLimit && s.charAt(semi) != ';') semi += 1
      if (semi == semiLimit) semi = -1
      if (semi > i) {
        val body = s.substring(i + 1, semi)
        if (body.startsWith("#x") || body.startsWith("#X")) {
          try {
            val cp = Integer.parseInt(body.substring(2), 16)
            if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); i = semi + 1 }
            else { sb.append(c); i += 1 }
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else if (body.startsWith("#")) {
          try {
            val cp = Integer.parseInt(body.substring(1))
            if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); i = semi + 1 }
            else { sb.append(c); i += 1 }
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else named.get(body) match {
          case Some(rep) => sb.append(rep); i = semi + 1
          case None      => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
  }

  // ---------------------------------------------------------------- tokenizer

  private def isNameStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char) =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':' || c == '_'

  /** Tokenize decoded HTML. Emits StartTag/EndTag/Text; script, style,
    * comment, CDATA and doctype content never reach Text. Throws
    * TimeoutException when the deadline expires. The independent
    * reference for [[parse]]: no production code calls it, and
    * KernelSpec and FuzzSpec pin the two equal.
    */
  def tokenize(html: String, deadline: Deadline = Deadline.unlimited): Iterator[Tok] =
    new Iterator[Tok] {
      private val s = html
      private val n = s.length
      private var i = 0
      private var pending: Tok = null
      private var pendingEnd: Tok = null
      advance()

      def hasNext: Boolean = pending != null
      def next(): Tok = { val t = pending; advance(); t }

      private def skipSpaceIn(j0: Int): Int = {
        var j = j0
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        j
      }

      /** Token produced by the last parseTag call (null = none). Field
        * instead of a (Tok, Int) tuple return: the tuple boxed the Int and
        * allocated a Tuple2 per tag — measurable at 32 threads.
        */
      private var tagTok: Tok = null

      /** Parse a start/end tag beginning at '<'; sets tagTok, returns the
        * new position. A '<' that opens nothing valid is literal text.
        */
      private def parseTag(lt: Int): Int = {
        tagTok = null
        var j = lt + 1
        if (j >= n) return lt + 1
        val c = s.charAt(j)
        if (c == '!') {
          if (s.startsWith("<!--", lt)) {
            val end = s.indexOf("-->", lt + 4)
            return if (end < 0) n else end + 3
          }
          if (s.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
            val end = s.indexOf("]]>", lt + 9)
            return if (end < 0) n else end + 3
          }
          // doctype or other declaration
          val end = s.indexOf('>', lt + 1)
          return if (end < 0) n else end + 1
        }
        if (c == '?') { // processing instruction
          val end = s.indexOf('>', lt + 1)
          return if (end < 0) n else end + 1
        }
        val closing = c == '/'
        if (closing) j += 1
        if (j >= n || !isNameStart(s.charAt(j))) return lt + 1 // literal '<'
        val nameStart = j
        while (j < n && isNameChar(s.charAt(j))) j += 1
        val name = s.substring(nameStart, j).toLowerCase(Locale.ROOT)
        if (closing) {
          val end = s.indexOf('>', j)
          tagTok = EndTag(name)
          return if (end < 0) n else end + 1
        }
        // attributes: scan past them (quote-aware so a '>' inside a quoted
        // value doesn't end the tag) without materializing anything
        var selfClosing = false
        var done = false
        while (!done) {
          j = skipSpaceIn(j)
          if (j >= n) { done = true }
          else {
            val ch = s.charAt(j)
            if (ch == '>') { j += 1; done = true }
            else if (ch == '/' && j + 1 < n && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
            else if (isNameStart(ch)) {
              while (j < n && isNameChar(s.charAt(j))) j += 1
              var k = skipSpaceIn(j)
              if (k < n && s.charAt(k) == '=') {
                k = skipSpaceIn(k + 1)
                if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
                  val q = s.charAt(k)
                  val vend = s.indexOf(q, k + 1)
                  k = if (vend < 0) n else vend + 1
                } else {
                  // unquoted value: '/' is an ordinary value character
                  // (HTML5), so <a href=/docs/> opens an anchor
                  while (k < n && !Character.isWhitespace(s.charAt(k)) && s.charAt(k) != '>') k += 1
                }
                j = k
              }
            } else j += 1 // junk char inside tag; skip
          }
        }
        tagTok = StartTag(name, selfClosing)
        j
      }

      private def advance(): Unit = {
        pending = null
        if (pendingEnd != null) { pending = pendingEnd; pendingEnd = null; return }
        while (pending == null && i < n) {
          if (deadline.expired()) throw new TimeoutException
          val c = s.charAt(i)
          if (c == '<') {
            val next = parseTag(i)
            val tok = tagTok
            if (tok == null && next == i + 1) {
              // a '<' that opens no tag is literal text
              i = next
              pending = Text("<")
            } else {
            i = next
            tok match {
              case st @ StartTag(nm, false) if nm == "script" || nm == "style" || nm == "textarea" || nm == "noscript" =>
                // raw-text element: skip to matching close tag
                // (case-insensitive — browsers close on </SCRIPT> too)
                val close = "</" + nm
                var k = Html.indexOfIgnoreCase(s, close, i)
                // tolerate missing close: consume to EOF
                if (k < 0) { i = n }
                else {
                  val gt = s.indexOf('>', k + close.length)
                  i = if (gt < 0) n else gt + 1
                }
                // emit the start tag now; the raw content is skipped entirely
                // and the close tag we consumed is re-emitted on the next pull
                pending = st
                pendingEnd = EndTag(nm)
              case t => pending = t
            }
            }
          } else {
            val lt0 = s.indexOf('<', i)
            val end = if (lt0 < 0) n else lt0
            val raw = s.substring(i, end)
            i = end
            val txt = decodeEntities(raw)
            if (txt.nonEmpty) pending = Text(txt)
          }
        }
      }

      override def toString = s"HtmlTokenizer@$i/$n"
    }

  // ------------------------------------------------------------- streaming

  /** One start or end tag as [[parse]] reports it: a view the parser
    * reuses for the whole document, so reporting a tag allocates nothing
    * beyond its lowercase name. `start` is the offset of the tag's '<',
    * `end` the offset just past its '>' (the document length when the
    * tag runs to EOF). Attributes are not materialized: [[attr]] rescans
    * the recorded attribute range only when a sink asks, so the text
    * kernel, which never asks, pays nothing for them.
    */
  final class Tag private[Html] (s: String) {
    private var nm: String = null
    private var sc = false
    private var st = 0
    private var en = 0
    private var attrFrom = -1 // just past the name; -1 for an end tag
    private var vFrom = 0     // value range of the attribute scanAttrs
    private var vTo = 0       // stopped at; vFrom < 0 = valueless

    def name: String = nm
    def selfClosing: Boolean = sc
    def start: Int = st
    def end: Int = en
    private[Html] def isEnd: Boolean = attrFrom < 0

    /** First occurrence of attribute `name` (lowercase; matched ASCII
      * case-insensitively), entity-decoded; "" if it has no value, null
      * if absent (always null on an end tag).
      */
    def attr(name: String): String =
      if (isEnd || scanAttrs(name) >= 0) null
      else if (vFrom < 0) ""
      else decodeEntities(s.substring(vFrom, vTo))

    /** Where this element's body would end if its content were raw text:
      * the first `</name` at or after [[end]] (ASCII case-insensitive),
      * or the document length when there is none. [[parse]] skips
      * script/style/textarea/noscript bodies by this rule; a sink may
      * apply it to any element (Meta reads `<title>` as RCDATA).
      */
    def bodyEnd: Int = {
      val k = indexOfIgnoreCase(s, "</" + nm, en)
      if (k < 0) s.length else k
    }

    /** Offset just past the close tag that starts at `bodyEnd`. */
    def closeEnd(bodyEnd: Int): Int = {
      val gt = s.indexOf('>', bodyEnd + 2 + nm.length)
      if (gt < 0) s.length else gt + 1
    }

    private[Html] def load(name: String, lt: Int, nameEnd: Int, closing: Boolean): Unit = {
      nm = name
      st = lt
      sc = false
      if (closing) {
        attrFrom = -1
        val gt = s.indexOf('>', nameEnd)
        en = if (gt < 0) s.length else gt + 1
      } else {
        attrFrom = nameEnd
        en = scanAttrs(null)
      }
    }

    /** The close tag the parser consumed after a raw-text body. */
    private[Html] def loadClose(bodyEnd: Int): Unit = {
      en = closeEnd(bodyEnd)
      st = bodyEnd
      sc = false
      attrFrom = -1
    }

    /** The one attribute state machine. Scans from `attrFrom`; returns
      * the offset past the tag's end ('>', "/>" or EOF), setting
      * selfClosing when `want` is null, or -1 at the first attribute
      * named `want` with its value range in vFrom/vTo. Quoted values run
      * to the matching quote; unquoted values end at whitespace or '>'
      * ('/' is an ordinary value character, as in HTML5); any other
      * character that cannot start a name is skipped.
      */
    private def scanAttrs(want: String): Int = {
      val n = s.length
      var j = attrFrom
      while (true) {
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        if (j >= n) return n
        val ch = s.charAt(j)
        if (ch == '>') return j + 1
        if (ch == '/' && j + 1 < n && s.charAt(j + 1) == '>') {
          if (want == null) sc = true
          return j + 2
        }
        if (isNameStart(ch)) {
          val a = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          val hit = want != null && j - a == want.length &&
            s.regionMatches(true, a, want, 0, want.length)
          var k = j
          while (k < n && Character.isWhitespace(s.charAt(k))) k += 1
          if (k < n && s.charAt(k) == '=') {
            k += 1
            while (k < n && Character.isWhitespace(s.charAt(k))) k += 1
            if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
              val q = s.indexOf(s.charAt(k), k + 1)
              vFrom = k + 1
              vTo = if (q < 0) n else q
              j = if (q < 0) n else q + 1
            } else {
              vFrom = k
              while (k < n && !Character.isWhitespace(s.charAt(k)) && s.charAt(k) != '>') k += 1
              vTo = k
              j = k
            }
          } else vFrom = -1
          if (hit) return -1
        } else j += 1
      }
      n // unreachable
    }
  }

  /** SAX-style event sink for [[parse]]. Tags arrive as the parser's
    * reused [[Tag]] view (read it inside the callback only). Text arrives
    * as (s, from, to) index ranges into the decoded document — no per-run
    * substring — with entities NOT yet decoded (route through
    * [[appendDecoded]]).
    */
  trait Sink {
    def startTag(tag: Tag): Unit
    def endTag(tag: Tag): Unit = ()
    def text(s: String, from: Int, to: Int): Unit = ()
  }

  /** The HTML tag grammar every scanner in `core` runs on: same token
    * boundaries and raw-text-element skipping as [[tokenize]], but zero
    * per-token allocation (no Tok objects, no text substrings).
    * [[tokenize]] remains the independent reference; KernelSpec and
    * FuzzSpec pin their equivalence. The kernel is allocation/bandwidth-
    * bound at 32 threads, and tokenizer garbage was the largest
    * remaining per-document source.
    */
  def parse(html: String, sink: Sink, deadline: Deadline = Deadline.unlimited): Unit = {
    val s = html
    val n = s.length
    val tag = new Tag(s)
    var i = 0
    var isTag = false

    // Scan the construct at '<' and return the position after it. A
    // start or end tag is loaded into `tag` and sets isTag; a comment,
    // CDATA section, declaration or PI does not, nor does a '<' that
    // opens nothing (which returns lt + 1).
    def parseTag(lt: Int): Int = {
      isTag = false
      var j = lt + 1
      if (j >= n) return lt + 1
      val c = s.charAt(j)
      if (c == '!') {
        if (s.startsWith("<!--", lt)) {
          val end = s.indexOf("-->", lt + 4)
          return if (end < 0) n else end + 3
        }
        if (s.regionMatches(true, lt, "<![CDATA[", 0, 9)) {
          val end = s.indexOf("]]>", lt + 9)
          return if (end < 0) n else end + 3
        }
        val end = s.indexOf('>', lt + 1)
        return if (end < 0) n else end + 1
      }
      if (c == '?') {
        val end = s.indexOf('>', lt + 1)
        return if (end < 0) n else end + 1
      }
      val closing = c == '/'
      if (closing) j += 1
      if (j >= n || !isNameStart(s.charAt(j))) return lt + 1 // literal '<'
      val nameStart = j
      while (j < n && isNameChar(s.charAt(j))) j += 1
      tag.load(s.substring(nameStart, j).toLowerCase(Locale.ROOT), lt, j, closing)
      isTag = true
      tag.end
    }

    while (i < n) {
      if (deadline.expired()) throw new TimeoutException
      if (s.charAt(i) == '<') {
        val next = parseTag(i)
        if (!isTag) {
          if (next == i + 1) sink.text(s, i, i + 1) // literal '<'
          // else: comment/doctype/PI — consumed silently
          i = next
        } else {
          i = next
          if (tag.isEnd) sink.endTag(tag)
          else {
            sink.startTag(tag)
            val name = tag.name
            if (!tag.selfClosing &&
              (name == "script" || name == "style" || name == "textarea" || name == "noscript")) {
              // raw-text element: skip the body, report its close tag
              tag.loadClose(tag.bodyEnd)
              i = tag.end
              sink.endTag(tag)
            }
          }
        }
      } else {
        val lt = s.indexOf('<', i)
        val end = if (lt < 0) n else lt
        if (end > i) sink.text(s, i, end)
        i = end
      }
    }
  }
}
