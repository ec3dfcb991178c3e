package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Property-based fuzzing of the extraction kernel (SURVEY.md par 5.2):
  * totality, determinism, span invariants, and streaming/iterator parser
  * equivalence over adversarial tag soup — inputs the corpus generators
  * would never produce.
  */
class FuzzSpec extends AnyFunSuite {

  /** Run a ScalaCheck property (500 cases) and fail the suite on the
    * first counterexample (bare scalacheck; no scalatestplus bridge in
    * the offline cache).
    */
  private def check(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val tagNames = Gen.oneOf("p", "div", "a", "script", "style", "b",
    "article", "nav", "li", "ul", "td", "tr", "span", "h1", "br", "img",
    "textarea", "noscript", "x-custom", "q1")

  private val fragment: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf(" ", "\t", "\n", "  "),
    Gen.oneOf("&amp;", "&lt;", "&nbsp;", "&#65;", "&#x42;", "&bogus;", "&", ";", "&#xZZ;"),
    Gen.oneOf("<", ">", "</", "/>", "<!", "<!--", "-->", "<![CDATA[", "]]>", "<?", "?>"),
    tagNames.map(t => s"<$t>"),
    tagNames.map(t => s"</$t>"),
    tagNames.map(t => s"<$t class='x' data-k=\"v\">"),
    tagNames.map(t => s"<$t/>"),
    Gen.oneOf("<p attr=unquoted>", "<div =junk>", "<a href='un closed>", "<b q=\"no-close>",
      "<a href=/d/>", "<h1 title=it's>", "<p x=a/b=\"c>d\">"),
    Gen.oneOf("éß€", "中文", "é", "﻿"),
  )

  private val soup: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, fragment).map(_.mkString))

  test("extraction is total and deterministic on arbitrary tag soup") {
    check(Prop.forAll(soup) { s =>
      val bytes = s.getBytes("UTF-8")
      val a = HtmlExtractor.extract(bytes, Html.Deadline.unlimited)
      val b = HtmlExtractor.extract(bytes, Html.Deadline.unlimited)
      a == b
    })
  }

  test("streaming parser == iterator tokenizer on arbitrary tag soup") {
    check(Prop.forAll(soup) { s =>
      val viaIterator = BlockBuilder.build(Html.tokenize(s))
      val viaStream = BlockBuilder.buildStreaming(s, Html.Deadline.unlimited)
      viaIterator == viaStream
    })
  }

  test("span invariants: within bounds, blocks non-overlapping, page covers text") {
    check(Prop.forAll(soup) { s =>
      val r = HtmlExtractor.extract(s.getBytes("UTF-8"), Html.Deadline.unlimited)
      val inBounds = r.spans.forall(sp => sp.begin >= 0 && sp.begin <= sp.end && sp.end <= r.text.length)
      val blocks = r.spans.filter(_.kind == "block").sortBy(_.begin)
      val nonOverlap = blocks.zip(blocks.drop(1)).forall { case (x, y) => x.end <= y.begin }
      val page = r.spans.find(_.kind == "page")
      inBounds && nonOverlap && page.exists(p => p.begin == 0 && p.end == r.text.length)
    })
  }

  test("canonical text has no whitespace runs and no leading/trailing space per block") {
    check(Prop.forAll(soup) { s =>
      val r = HtmlExtractor.extract(s.getBytes("UTF-8"), Html.Deadline.unlimited)
      val noRuns = !r.text.contains("  ") && !r.text.contains(" \n") && !r.text.contains("\n ")
      val blockLines = if (r.text.isEmpty) Array.empty[String] else r.text.split("\n", -1)
      noRuns && blockLines.forall(l => l == l.trim)
    })
  }

  test("decode is total on arbitrary byte arrays (magic sniff + charset)") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      ContentType.detect(bytes) // must not throw
      Html.decode(bytes)        // must not throw
      true
    })
  }

  // --- URL resolver (core/Urls.scala) ---

  private val hrefGen: Gen[String] = {
    val seg = Gen.oneOf("a", "b9", "..", ".", "index.html", "x%20y", "déjà", "", " ")
    val path = Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, seg).map(_.mkString("/")))
    Gen.oneOf(
      path,
      path.map("/" + _),
      path.map("./" + _),
      path.map("../" + _),
      path.map(p => s"https://Host.EX:443/$p"),
      path.map(p => s"http://h.ex:8080/$p?q=1&r=2"),
      path.map(p => s"//cdn.ex/$p"),
      path.map(p => s"$p#frag"),
      path.map(p => s"$p?x=%26"),
      Gen.oneOf("mailto:a@b.c", "javascript:void(0)", "data:text/plain,x",
        "tel:+123", "ftp://h/p", "#", "", "?", "https://", "http://:80/x",
        ":", "a:b", "HTTPS://UP.CASE/P#F"),
      Gen.listOf(Gen.chooseNum(32.toChar, 255.toChar)).map(_.mkString.take(24)),
    )
  }

  test("url resolve: total, idempotent, and always canonical absolute http(s)") {
    val baseGen = Gen.oneOf(
      "https://ex.com/a/b/c?q0", "http://ex.com/", "https://h9.ex.com/doc/7",
      "https://ex.com", "http://ex.com:8080/d/")
    check(Prop.forAll(baseGen, hrefGen) { (base, href) =>
      Urls.resolve(base, href) match { // must not throw
        case None => true
        case Some(u) =>
          // canonical: absolute http(s), lowercase scheme+host, no
          // fragment, no default port, non-empty path
          val abs = u.startsWith("http://") || u.startsWith("https://")
          val noFrag = !u.contains('#')
          val hostEnd = u.indexOf('/', u.indexOf("//") + 2)
          val authority = u.substring(u.indexOf("//") + 2, if (hostEnd < 0) u.length else hostEnd)
          val hostLower = authority.takeWhile(_ != ':') == authority.takeWhile(_ != ':').toLowerCase
          val noDefaultPort = !(u.startsWith("http://") && authority.endsWith(":80")) &&
            !(u.startsWith("https://") && authority.endsWith(":443"))
          val hasPath = hostEnd >= 0 // render always emits at least "/"
          // a canonical URL must resolve to ITSELF against any base
          val idem = Urls.resolve(base, u) == Some(u)
          abs && noFrag && hostLower && noDefaultPort && hasPath && idem
      }
    })
  }

  test("min_k_longs buffer algebra: any partitioning + merge order + serde == sorted take(k)") {
    // drives the aggregate's update/merge/serialize/eval functions
    // directly (no Spark job per case): values split into arbitrary
    // "partitions", each folded into its own buffer, buffers round-trip
    // through serialization, then merge in the generated order — the
    // result must equal the k smallest of the multiset, ascending,
    // regardless of how the work was split
    val child = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = true)
    def mk(k: Int) = graft.functions.MinKLongs(child, k)
    val genVals = Gen.listOf(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue))
    val genK = Gen.chooseNum(1, 12)
    val genCuts = Gen.listOf(Gen.chooseNum(0, 64))
    check(Prop.forAll(genVals, genK, genCuts) { (vals, k, cuts) =>
      val a = mk(k)
      // split vals into partitions at pseudo-random cut points
      val parts = if (vals.isEmpty) Seq(Seq.empty[Long]) else {
        val n = (cuts.map(_ % vals.length).toSet + 0 + vals.length).toSeq.sorted
        n.zip(n.tail).map { case (b, e) => vals.slice(b, e) }
      }
      val buffers = parts.map { p =>
        val buf = p.foldLeft(a.createAggregationBuffer()) { (b, v) =>
          a.update(b, org.apache.spark.sql.catalyst.InternalRow(v)) // production path
        }
        a.deserialize(a.serialize(buf)) // serde round-trip per partition
      }
      val merged = buffers.reduce(a.merge)
      val got = a.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray().toSeq
      got == vals.sorted.take(k)
    })
  }

  // --- attribute scanners (Links/Directives/Meta/Tables/Outline) ---
  // The extraction kernel is fuzzed above; these are the ATTRIBUTE
  // scanners (the one family that materializes attr values), which the
  // r3 imagesOf bug (phantom `</img>` images) showed need the same
  // adversarial-soup treatment: totality + determinism, no phantom
  // emission (every emitted record is witnessed by a literal tag
  // occurrence), and rawtext discipline (script/style/textarea content
  // is never markup).

  private val attrFragment: Gen[String] = Gen.oneOf(
    fragment,
    Gen.oneOf("<a href='x'>", "<a href=\"/y z\">lnk</a>", "<a href=un>", "<a>",
      "</a>", "<A HREF='UP'>", "<a href='' rel=nofollow>", "<a href='#f'",
      "<a href=/d/>", "<h1 title=it's>", "<p x=a/b=\"c>d\">"),
    Gen.oneOf("<img src='i.png'>", "<img src=j alt='k'>", "<img alt=only>",
      "</img>", "<IMG SRC=c/>", "<img", "<imgx src=no>"),
    Gen.oneOf("<link rel=canonical href='/c'>", "<link rel='alternate' hreflang=de href=/de>",
      "<meta name=robots content='noindex, nofollow'>", "<meta property='og:title' content='t'>",
      "<meta http-equiv=refresh content='5;url=/r'>", "<time datetime='2026-01-02'>"),
    Gen.oneOf("<title>", "</title>", "<h1>", "</h1>", "<h2 id=s>", "</h2>",
      "<h6>", "</h6>", "<h7>", "<table>", "</table>", "<tr>", "</tr>",
      "<td>", "</td>", "<th scope=row>", "</th>", "<caption>"),
    Gen.oneOf("<script>", "</script>", "<script type='application/ld+json'>",
      "<style>", "</style>", "<textarea>", "</textarea>"))

  private val attrSoup: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, attrFragment).map(_.mkString))

  private def countOcc(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + 1) }
    c
  }

  test("attribute scanners: total and deterministic on arbitrary attr soup") {
    check(Prop.forAll(attrSoup) { s =>
      val dl = Html.Deadline.unlimited
      Links.outlinksOf(s, dl) == Links.outlinksOf(s, dl) &&
        Links.imagesOf(s, dl) == Links.imagesOf(s, dl) &&
        Directives.scan(s, dl) == Directives.scan(s, dl) &&
        Meta.scan(s, dl) == Meta.scan(s, dl) &&
        Tables.extract(s, dl) == Tables.extract(s, dl) &&
        Outline.extract(s, dl) == Outline.extract(s, dl)
    })
  }

  test("attribute scanners: no phantom emission — every record is witnessed by a literal tag") {
    check(Prop.forAll(attrSoup) { s =>
      val dl = Html.Deadline.unlimited
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val links = Links.outlinksOf(s, dl)
      val imgs = Links.imagesOf(s, dl)
      val d = Directives.scan(s, dl)
      val m = Meta.scan(s, dl)
      val cells = Tables.extract(s, dl)
      val secs = Outline.extract(s, dl)
      // each emission consumes one real start tag ("<a"/"<img"/... is a
      // prefix of every such tag, so emitted <= occurrences)
      (links.length <= countOcc(lower, "<a")) :| "links exceed <a occurrences" &&
        (imgs.length <= countOcc(lower, "<img")) :| "imgs exceed <img occurrences" &&
        (links.isEmpty || lower.contains("<a")) :| "phantom link" &&
        (imgs.isEmpty || lower.contains("<img")) :| "phantom img" &&
        ((d.canonical == null) || lower.contains("<link")) :| "phantom canonical" &&
        ((d.robots == null) || lower.contains("<meta")) :| "phantom robots" &&
        (d.jsonld.isEmpty || lower.contains("<script")) :| "phantom jsonld" &&
        (m.title.isEmpty || lower.contains("<title")) :| "phantom title" &&
        (m.h1.isEmpty || lower.contains("<h1")) :| "phantom h1" &&
        (cells.isEmpty || lower.contains("<table")) :| "cells without <table" &&
        // a heading-less doc legally emits ONE level-0 preamble section;
        // any level>0 section must be witnessed by a real heading tag
        (secs.forall(_.level == 0) || (1 to 6).exists(l => lower.contains(s"<h$l"))) :| "leveled section without heading" &&
        (secs.count(_.level == 0) <= 1) :| "multiple preambles"
    })
  }

  test("attribute scanners: rawtext discipline — script/style/textarea content is never markup") {
    check(Prop.forAll(attrSoup, Gen.oneOf("script", "style", "textarea")) { (s, tag) =>
      // arbitrary soup sealed inside ONE rawtext element (its own closer
      // stripped so the element really spans the whole document)
      val inner = s.replaceAll("(?i)</" + tag, "")
      val doc = s"<$tag>$inner</$tag>"
      val dl = Html.Deadline.unlimited
      val d = Directives.scan(doc, dl)
      val m = Meta.scan(doc, dl)
      Links.outlinksOf(doc, dl).isEmpty :| "link from rawtext" &&
        Links.imagesOf(doc, dl).isEmpty :| "img from rawtext" &&
        Tables.extract(doc, dl).isEmpty :| "cell from rawtext" &&
        Outline.extract(doc, dl).isEmpty :| "section from rawtext" &&
        (m.title.isEmpty && m.h1.isEmpty) :| "meta from rawtext" &&
        (d.canonical == null && d.robots == null && d.refresh == null &&
          d.alternates.isEmpty && d.og.isEmpty) :| "directive from rawtext"
    })
  }
}
