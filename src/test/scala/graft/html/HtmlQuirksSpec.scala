package graft.html

import org.scalatest.funsuite.AnyFunSuite

/** The reference's parser-quirks and document-surface pins
  * (`tests/resiliparse/parse/test_html.py:13-221`) ported assertion for
  * assertion, plus random-mutation fuzz over the 16 real fixture pages:
  * truncations, deletions, duplications and bracket flips of genuine
  * Common Crawl HTML must never throw, and the streaming extractor must
  * stay byte-identical to the DOM walk on every mutant.
  */
class HtmlQuirksSpec extends AnyFunSuite {

  // test_html.py:13-26 — the shared example document
  private val refHtml =
    """<!doctype html>
      |<html lang="en">
      |  <head>
      |    <meta charset="utf-8">
      |    <title>Example page</title>
      |  </head>
      |  <body>
      |    <main id="foo">
      |      <p id="a">Hello <span class="bar">world</span>!</p>
      |      <p id="b" class="dom">Hello <a href="https://example.com" class="bar baz">DOM</a>!</p>
      |     </main>
      |     <!-- A comment -->
      |  </body>
      |</html>""".stripMargin

  // — test_parse_quirks (test_html.py:78-109) —

  test("quirks: no head — head synthesized empty, body keeps the span") {
    val t = HtmlTree.parse("""<!doctype html><body><span></span></body>""")
    assert(t.head != null)
    assert(t.head.childNodes.isEmpty)
    assert(t.body != null)
    assert(t.body.childNodes.size == 1)
  }

  test("quirks: no body — title parsed in head, body synthesized empty") {
    val t = HtmlTree.parse("""<!doctype html><head><title>Title</title></head>""")
    assert(t.head != null)
    assert(t.head.childNodes.size == 1)
    assert(t.title == "Title")
    assert(t.body != null)
    assert(t.body.childNodes.isEmpty)
  }

  test("quirks: no title — empty title string, both sections present") {
    val t = HtmlTree.parse("""<!doctype html><head></head></body>""")
    assert(t.head != null)
    assert(t.head.childNodes.isEmpty)
    assert(t.title == "")
    assert(t.body != null)
    assert(t.body.childNodes.isEmpty)
  }

  test("quirks: svg <title> in body is NOT the document title") {
    val t = HtmlTree.parse("""<!doctype html><svg xmlns="http://www.w3.org/2000/svg"><title>SVG Title</title></svg>""")
    assert(t.head != null)
    assert(t.title == "")
    assert(t.body != null)
  }

  test("quirks: unclosed head — span implicitly closes it, title stays") {
    val t = HtmlTree.parse("""<!doctype html><head><title>Title</title><span></span>""")
    assert(t.head != null)
    assert(t.head.childNodes.size == 1)
    assert(t.title == "Title")
    assert(t.body != null)
    assert(t.body.childNodes.size == 1)
  }

  // — validate_document (test_html.py:29-56) —

  test("document node surface: types, doctype first child, repr shapes") {
    val t = HtmlTree.parse(refHtml)
    assert(t.document.nodeType == NodeType.Document)
    assert(t.document.tag == "#document")
    assert(t.document.toString == "[HTML Document]")
    assert(t.document.firstChild.nodeType == NodeType.DocumentType)
    assert(t.document.firstChild.toString == "<!DOCTYPE html>")

    assert(t.head.nodeType == NodeType.Element)
    assert(t.head.tag == "head")
    assert(t.head.toString == "<head>")
    assert(t.head.html.startsWith("<head>"))
    assert(t.head.html.endsWith("</head>"))

    assert(t.body.nodeType == NodeType.Element)
    assert(t.body.tag == "body")
    assert(t.body.toString == "<body>")
    assert(t.body.html.startsWith("<body>"))
    assert(t.body.html.endsWith("</body>"))

    assert(t.title == "Example page")
  }

  // — test_selection (test_html.py:141-181) —

  test("selection: id / tag / class / attr lookups on the example doc") {
    val t = HtmlTree.parse(refHtml)
    assert(t.body.getElementById("foo").get.tag == "main")

    val meta = t.head.getElementsByTagName("meta")
    assert(meta.size == 1 && meta.head.tag == "meta")

    val barClass = t.body.getElementsByClassName("bar")
    assert(barClass.size == 2)
    assert(barClass(0).tag == "span")
    assert(barClass(1).tag == "a")

    val langEn = t.document.getElementsByAttr("lang", "en")
    assert(langEn.size == 1)
    assert(langEn.head.hasattr("lang"))
    assert(langEn.head.tag == "html")
  }

  test("selection: descendant/child/pseudo-class CSS on the example doc") {
    val t = HtmlTree.parse(refHtml)
    val matchCss = t.document.querySelector("body > main p:last-child")
    assert(matchCss.get.tag == "p")

    val all = t.body.querySelectorAll("main *")
    assert(all.map(_.tag) == Vector("p", "span", "p", "a"))

    assert(t.body.matches(".bar"))
    assert(!t.body.matches(".barbaz"))
  }

  test("selection: invalid CSS selector raises") {
    val t = HtmlTree.parse(refHtml)
    intercept[IllegalArgumentException] { t.body.querySelector("..abc") }
  }

  // — random-mutation fuzz over the 16 real fixture pages —

  private lazy val fixturePages: Seq[Array[Byte]] = {
    val in = new java.io.FileInputStream(graft.sources.BenchCorpus.FixtureRaw)
    val parser = new graft.core.WarcParser(new graft.core.WarcByteReader(in),
      "warcfile.warc", graft.core.WarcParseOptions(parseHttp = true))
    try parser.collect {
      case r if r.recordType == "response" && r.http.isDefined => r.http.get.body
    }.toVector finally in.close()
  }

  private def decodePage(bytes: Array[Byte]): String = {
    val enc = graft.core.Encodings.detectEncoding(bytes, fromHtmlMeta = true)
      .getOrElse("utf-8")
    graft.core.Encodings.bytesToStr(bytes, enc)
  }

  test("mutation fuzz: 16 fixture pages x truncate/delete/duplicate/flip " +
      "mutants — parser never throws, stream extraction == DOM extraction") {
    assert(fixturePages.size == 16)
    val rnd = new java.util.Random(0xf1a7)
    val opts = Seq(Html2Text.Options(),
      Html2Text.Options(links = true, altTexts = false))
    var mutants = 0
    fixturePages.foreach { bytes =>
      val page = decodePage(bytes)
      val variants: Seq[String] = Seq(
        page.substring(0, rnd.nextInt(page.length)), // truncation
        { // random deletion
          val a = rnd.nextInt(page.length)
          val b = math.min(page.length, a + 1 + rnd.nextInt(2000))
          page.substring(0, a) + page.substring(b)
        },
        { // random duplication (re-entrant markup)
          val a = rnd.nextInt(page.length)
          val b = math.min(page.length, a + 1 + rnd.nextInt(1000))
          page.substring(0, b) + page.substring(a, b) + page.substring(b)
        },
        { // bracket flips: break N tags into text / text into tags
          val sb = new StringBuilder(page)
          for (_ <- 0 until 20) {
            val i = rnd.nextInt(sb.length)
            sb.charAt(i) match {
              case '<' => sb.setCharAt(i, ' ')
              case '>' => sb.setCharAt(i, '<')
              case _ => sb.setCharAt(i, '>')
            }
          }
          sb.toString
        })
      variants.foreach { v =>
        val tree =
          try HtmlTree.parse(v)
          catch { case e: Throwable =>
            fail(s"parse threw ${e.getClass.getSimpleName} on a mutant of len ${v.length}") }
        opts.foreach { o =>
          val dom = Html2Text.extract(tree, o)
          val streamed = Html2TextStream.extract(v, o)
          assert(streamed == dom, s"mutant len ${v.length} opts=$o diverged")
        }
        // serialization of the mutant tree must reparse cleanly
        HtmlTree.parse(tree.document.html)
        mutants += 1
      }
    }
    assert(mutants == 64)
  }
}
