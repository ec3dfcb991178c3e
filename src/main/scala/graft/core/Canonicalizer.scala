package graft.core

import java.text.Normalizer

/** THE determinism choke point (SURVEY.md par 7.2 item 7).
  *
  * Every byte of extracted text funnels through here so that goldens are
  * byte-identical across JVMs, locales, and parallelism levels (the
  * north_rule gate; mirrors the reference's determinism contract at
  * /root/reference/tests/e2e/test_ocr_tesseract.py:163-169 -- same input
  * must produce identical output).
  *
  * Canonical form:
  *   - Unicode NFC
  *   - all whitespace runs inside a block collapsed to a single ASCII space
  *   - blocks trimmed; empty blocks dropped
  *   - blocks joined with a single '\n'
  */
object Canonicalizer {

  /** True for every code point we treat as collapsible whitespace.
    * ASCII whitespace plus NBSP (entity-decoded) and the Unicode space
    * separators -- a fixed, documented set rather than
    * Character.isWhitespace so the contract cannot drift across JDKs.
    */
  def isSpace(c: Char): Boolean = {
    val i = c.toInt
    i == 0x20 || i == 0x09 || i == 0x0a || i == 0x0d || i == 0x0c ||
    i == 0x0b || i == 0xa0 || i == 0x1680 ||
    (i >= 0x2000 && i <= 0x200a) || i == 0x2028 || i == 0x2029 ||
    i == 0x202f || i == 0x205f || i == 0x3000 || i == 0xfeff
  }

  /** Collapse whitespace runs to single spaces and trim. Pure, total. */
  def collapse(s: CharSequence): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isSpace(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** [[block]] over a reusable buffer: ASCII blocks (the common case)
    * collapse straight out of the buffer with no intermediate String;
    * non-ASCII blocks take the exact original path (toString -> NFC ->
    * collapse) so bytes are identical either way. NFC runs BEFORE
    * collapse in both paths — composition must see the original
    * character sequence.
    */
  def blockOf(buf: java.lang.StringBuilder): String = {
    var i = 0
    while (i < buf.length && buf.charAt(i) < 0x80) i += 1
    if (i == buf.length) collapse(buf) else block(buf.toString)
  }

  /** NFC-normalize. Applied per block (NFC is preserved by our join
    * because '\n' is inert under composition). Pure-ASCII fast path:
    * NFC is the identity on ASCII, and most web-text blocks are ASCII,
    * so skip the (expensive) Normalizer call when possible — result is
    * byte-identical either way.
    */
  def nfc(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) < 0x80) i += 1
    if (i == s.length) s else Normalizer.normalize(s, Normalizer.Form.NFC)
  }

  /** Canonical block: NFC + collapse. */
  def block(s: String): String = collapse(nfc(s))
}
