package graft.html

import org.scalatest.funsuite.AnyFunSuite
import Html2Text.{FormatBasic, FormatOff, Options}

/** Differential spec: the DOM-free streaming extractor must produce
  * byte-identical output to the DOM walk for every eligible option set,
  * over the golden-test document, every fixture page, adversarial tag
  * soup, and random option combinations. This parity IS the streaming
  * path's correctness argument — both paths share the extraction
  * callback and serializer, so any drift is a walk-semantics bug.
  */
class Html2TextStreamSpec extends AnyFunSuite {

  private val optionSets: Seq[(String, Options)] = Seq(
    "defaults" -> Options(),
    "format off" -> Options(formatting = FormatOff),
    "no alt texts" -> Options(altTexts = false),
    "links" -> Options(links = true),
    "form fields" -> Options(formFields = true),
    "noscript" -> Options(noscript = true),
    "no bullets" -> Options(listBullets = false),
    "skip custom tags" -> Options(skipElements = Seq("nav", "footer")),
    // p in the skip list: the stray-</p> empty-p synthesis must respect
    // it (the DOM walk emits no events for skip-list tags)
    "skip p" -> Options(skipElements = Seq("p", "aside")),
    "everything on" -> Options(links = true, formFields = true,
      noscript = true, altTexts = true),
    "off + links + fields" -> Options(formatting = FormatOff, links = true,
      formFields = true),
  )

  private def diff(name: String, html: String): Unit =
    optionSets.foreach { case (optName, o) =>
      assert(Html2TextStream.eligible(o), optName)
      val dom = Html2Text.extract(HtmlTree.parse(html), o)
      val streamed = Html2TextStream.extract(html, o)
      assert(streamed == dom,
        s"[$name / $optName]\n--- dom ---\n$dom\n--- stream ---\n$streamed")
    }

  test("golden-test document matches the DOM path under all option sets") {
    diff("golden", GoldenDoc.html)
  }

  test("all fixture pages match the DOM path under all option sets") {
    val (in, _) = graft.core.WarcCodecs.open(new java.io.FileInputStream(
      graft.sources.BenchCorpus.FixtureRaw))
    val parser = new graft.core.WarcParser(
      new graft.core.WarcByteReader(in), "")
    parser.filter(_.recordType == "response").zipWithIndex.foreach {
      case (rec, idx) =>
        rec.http.foreach { h =>
          val html = HtmlTree.decodeForParse(h.body, h.charset.orNull)
          diff(s"fixture page $idx", html)
        }
    }
    in.close()
  }

  test("adversarial tag soup matches the DOM path") {
    val soups = Seq(
      "", "   ", "plain text only",
      "<p>unclosed <b>bold <i>italic",
      "<ul><li>a<li>b<ol><li>1<li>2</ul>after",
      "<table><tr><td>a<td>b<tr><td>c</table>",
      "<div><p>para<div>closes p</div>",
      "<pre>\nkeep  spacing\n  here</pre>",
      "<textarea>\nraw <b>not bold</b></textarea>",
      "<script>var a = '<p>not content</p>';</script>visible",
      "<title>head title</title>body text",
      "<head><style>x{}</style></head><body>real</body>trailing",
      "<body>first</body><p>after body close",
      "<p>a<!-- comment -->b",
      "<!-- only a comment -->",
      "<svg><title>svg title</title><circle/></svg>text",
      "<p>ent&amp;ities &lt;kept&gt; &#65;&#x42;",
      "<a href='x'>link text</a> tail",
      "<img alt='standalone image'>",
      "<input type='text' value='v' placeholder='p'>",
      "<option>opt</option><select><option>a</option></select>",
      "<br><br><hr><p></p><div></div>empty blocks",
      "<p>" + "deep<div>" * 600 + "bottom", // beyond the depth cap
      "<noscript><p>noscript content</p></noscript>shown",
      "<h1>h</h1><blockquote>q</blockquote><dd>d</dd><dt>t</dt>",
      "a<b>b</b ", // truncated end tag
      "<p att=>empty attr</p><p att='>unclosed quote",
      "<div/>self-closing div stays open</div>after",
      "<iframe><a href=x>raw, not a link</a></iframe>visible",
      "<p>before<plaintext><b>literal</b> to eof",
      "<center>old-school</center><dialog>d</dialog><p>p<listing>l</listing>",
      "x</p>y<div>a</p>b</div>",           // stray-</p> empty-p synthesis
      "<form><input>x</form>y",            // </form> at the top of the stack
      "<span><div>in</span>tact</div>out", // any-other end tag ignored at special
      "a<tr>b<td>c",                       // stray table tags dropped
      "t</br>u",                           // </br> as a br start tag
      "<h3>head</h2>after",                // any-heading close rule
    )
    soups.zipWithIndex.foreach { case (s, i) => diff(s"soup $i", s) }
  }

  test("tree-rule trigger inputs fall back to the DOM path and still match") {
    // every input here trips a Bail trigger (adoption agency, foster
    // parenting, nested table, clear-back residue) — extract() must
    // transparently restart on the DOM path and stay byte-identical
    val triggers = Seq(
      "<b>1<div>2</b>3</div>",
      "<b><i>bold italic</b>just italic</i>plain",
      "<p><b>x</p><p>reconstructed</p>",
      "<a href='1'>one<a href='2'>two</a>",
      "<table><tr><td>A</td></tr>stray</table>after",
      "<table>foo<tr><td>bar</td></tr></table>",
      "<div><table><b>fostered</b><tr><td>x</td></tr></table></div>",
      "<table><tr><td>a</td></tr><table><tr><td>b</td></tr></table>",
      "<table><b>x<tr><td>y</td></tr></table>z",
      "<ul><li><b>item<li>still bold?</ul>",
      "<table><form><tr><td>x</td></tr></form></table>",
    )
    triggers.zipWithIndex.foreach { case (s, i) => diff(s"trigger $i", s) }
  }

  test("trigger-free documents take the pure streaming path") {
    // extractStreaming throws on a Bail trigger; these must NOT throw —
    // the fast path is the perf story, so losing it silently would be a
    // regression even with correct fallback output
    val clean = Seq(
      GoldenDoc.html,
      "<p>unclosed <b>bold <i>italic",
      "<table><tr><td>a<td>b<tr><td>c</table>",
      "<td><b>x</td>y",
      "<table><thead><tr><th>h</th></tr></thead><tbody><tr><td>1</td></tr></tbody></table>",
      "<b>ok</b> <i>fine</i>",
    )
    clean.foreach { s =>
      Html2TextStream.extractStreaming(s, Options()) // must not Bail
    }
  }

  test("eligibility gates the DOM-only options") {
    assert(!Html2TextStream.eligible(Options(mainContent = true)))
    assert(!Html2TextStream.eligible(Options(formatting = Html2Text.FormatMinimalHtml)))
    assert(!Html2TextStream.eligible(Options(skipElements = Seq(".cls"))))
    assert(Html2TextStream.eligible(Options(skipElements = Seq("nav"))))
  }
}

/** The reference's golden-test document (test_html2text.py:53-87), shared
  * with Html2TextSpec's pinned outputs.
  */
private[html] object GoldenDoc {
  val html: String = """<!doctype html>
<head>
    <title>Foo</title>
    <meta charset="utf-8">
    <style>* { margin: 0; }</style>
</head>
<body>
    <section id="wrapper">
        <nav>
            <ul>
                <li>Nav 1</li>
                <li>
                    <p>Nav 2</p>
                    <ul>
                        <li><p>Nav 3</p></li>
                    </ul>
                </li>
            </ul>
        </nav>
        <main>
            foo <a href="#foo" hidden>bar</a>

            <p>baz<br>bar</p>

            <button aria-hidden="true">Click here</button>
            <input type="hidden" value="foo">
            <input type="text" value="Some text" placeholder="Insert text">
            <input type="text" placeholder="Insert text">
            <img src="" alt="Some image">
            <object data="" class="some-class hidden">Cannot display object</object>
        </main>
        <script language="vbscript" type="text/vbscript">MsgBox("Hello World!")</script>
        <noscript>Sorry, your browser doesn't support VB Script!</noscript>
        <div><div><div><footer id="global-footer">
            Copyright (C) 2021 Foo Bar
        </footer></div></div></div>
    </section>
</body>
</html>"""
}
