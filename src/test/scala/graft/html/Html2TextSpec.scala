package graft.html

import org.scalatest.funsuite.AnyFunSuite
import Html2Text.{FormatBasic, FormatMinimalHtml, FormatOff, Options}

/** Golden-output tests ported from the reference
  * (tests/resiliparse/extract/test_html2text.py:53-532). Expected strings
  * are copied exactly — they ARE the acceptance oracle for
  * extract_plain_text.
  */
class Html2TextSpec extends AnyFunSuite {

  private val html = """<!doctype html>
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

  private lazy val tree = HtmlTree.parse(html)

  private def x(o: Options): String = Html2Text.extract(tree, o)

  test("basic extraction: formatting off") {
    assert(x(Options(formatting = FormatOff, altTexts = false)) ==
      "Nav 1 Nav 2 Nav 3 foo bar baz bar Copyright (C) 2021 Foo Bar")
  }

  test("basic extraction: no bullets") {
    assert(x(Options(altTexts = false, listBullets = false)) ==
      """|  Nav 1
         |
         |  Nav 2
         |
         |    Nav 3
         |
         |foo bar
         |
         |baz
         |bar
         |
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("basic extraction: bullets") {
    assert(x(Options(altTexts = false)) ==
      """|  • Nav 1
         |
         |  • Nav 2
         |
         |    • Nav 3
         |
         |foo bar
         |
         |baz
         |bar
         |
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("basic extraction: minimal html") {
    assert(x(Options(formatting = FormatMinimalHtml, altTexts = false)) ==
      """|<ul>
         |  <li>Nav 1</li>
         |  <li>
         |
         |  <p>Nav 2  </p>
         |
         |  <ul>
         |    <li>
         |
         |    <p>Nav 3    </p></li>
         |  </ul></li>
         |</ul>
         |foo bar
         |
         |<p>baz<br>
         |bar</p>
         |
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("minimal html with alt texts") {
    assert(x(Options(formatting = FormatMinimalHtml, altTexts = true)) ==
      """|<ul>
         |  <li>Nav 1</li>
         |  <li>
         |
         |  <p>Nav 2  </p>
         |
         |  <ul>
         |    <li>
         |
         |    <p>Nav 3    </p></li>
         |  </ul></li>
         |</ul>
         |foo bar
         |
         |<p>baz<br>
         |bar</p>
         |
         |Some image Cannot display object
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("minimal html, alt texts, no bullets") {
    assert(x(Options(formatting = FormatMinimalHtml, altTexts = true, listBullets = false)) ==
      """|Nav 1
         |
         |<p>Nav 2</p>
         |
         |<p>Nav 3</p>
         |
         |foo bar
         |
         |<p>baz<br>
         |bar</p>
         |
         |Some image Cannot display object
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("alt text extraction") {
    assert(x(Options(altTexts = true)) ==
      """|  • Nav 1
         |
         |  • Nav 2
         |
         |    • Nav 3
         |
         |foo bar
         |
         |baz
         |bar
         |
         |Some image Cannot display object
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("link href extraction") {
    assert(x(Options(altTexts = false, links = true)) ==
      """|  • Nav 1
         |
         |  • Nav 2
         |
         |    • Nav 3
         |
         |foo bar (#foo)
         |
         |baz
         |bar
         |
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("form field extraction") {
    assert(x(Options(altTexts = false, formFields = true)) ==
      """|  • Nav 1
         |
         |  • Nav 2
         |
         |    • Nav 3
         |
         |foo bar
         |
         |baz
         |bar
         |
         |[ Click here ] [ Some text ] [ Insert text ]
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("noscript extraction") {
    assert(x(Options(altTexts = false, noscript = true)) ==
      """|  • Nav 1
         |
         |  • Nav 2
         |
         |    • Nav 3
         |
         |foo bar
         |
         |baz
         |bar
         |
         |Sorry, your browser doesn't support VB Script!
         |Copyright (C) 2021 Foo Bar""".stripMargin)
  }

  test("main content extraction") {
    assert(x(Options(altTexts = false, mainContent = true)) == "foo\n\nbaz\nbar")
    assert(x(Options(altTexts = true, mainContent = true)) ==
      "foo\n\nbaz\nbar\n\nSome image")
    assert(x(Options(altTexts = false, mainContent = true, formFields = true)) ==
      "foo\n\nbaz\nbar\n\n[ Some text ] [ Insert text ]")
  }

  test("inline after block") {
    val t = HtmlTree.parse(
      "<body>\n<div>A</div>B\n\n<div>C</div>\n\n    D\n\n<div>E</div><span>F</span>\n\n<div>G</div><span>H</span>")
    assert(Html2Text.extract(t, Options(listBullets = false)) ==
      "A\nB\nC\nD\nE\nF\nG\nH")
  }

  test("pre formatted") {
    val t = HtmlTree.parse("""<body>
    <ul>
        <li>A</li>
        <li>B<div>C</div>

        D   <p>E</p>
        <li>
                <pre>F
    G
        H
J</pre>
        </li>
    </ul>
    <textarea>K
        L
    </textarea>
    </body>""")
    val withoutBullets = "  A\n  B\n  C\n  D\n\n  E\n\n  F\n    G\n        H\nJ"
    val withBullets = "  • A\n  • B\n    C\n    D\n\n    E\n\n  • F\n    G\n        H\nJ"
    val htmlWithoutBullets = "A\nB\nC\nD\n\n<p>E</p>\n\n<pre>F\n    G\n        H\nJ</pre>"
    val htmlWithBullets =
      "<ul>\n  <li>A</li>\n  <li>B\nC\nD\n\n  <p>E  </p></li>\n  <li> <pre>F\n    G\n        H\nJ</pre></li>\n</ul>"
    val textarea = "\n[ K\n        L\n    ]"
    assert(Html2Text.extract(t, Options(listBullets = false)) == withoutBullets)
    assert(Html2Text.extract(t, Options(listBullets = true)) == withBullets)
    assert(Html2Text.extract(t, Options(listBullets = false, formFields = true)) ==
      withoutBullets + textarea)
    assert(Html2Text.extract(t, Options(listBullets = true, formFields = true)) ==
      withBullets + textarea)
    assert(Html2Text.extract(t, Options(listBullets = true, formatting = FormatMinimalHtml)) ==
      htmlWithBullets)
    assert(Html2Text.extract(t, Options(listBullets = false, formatting = FormatMinimalHtml)) ==
      htmlWithoutBullets)
    assert(Html2Text.extract(t,
      Options(listBullets = true, formatting = FormatMinimalHtml, formFields = true)) ==
      htmlWithBullets + textarea)
    assert(Html2Text.extract(t,
      Options(listBullets = false, formatting = FormatMinimalHtml, formFields = true)) ==
      htmlWithoutBullets + textarea)
  }

  test("ordered list") {
    val t = HtmlTree.parse("""<body>
<ul>
    <li>A</li>
    <li>B
        <ol>
            <li>C</li>
            <li>D
                <ol>
                    <li>E</li>
                    <li>F</li>
                </ol>
            </li>
            <li>G
                <ol>
                    <li>H</li>
                    <li>I</li>
                </ol>
            </li>
        </ol>
    </li>
</ul>
<ol>
    <li>J</li>
</ol>
</body>""")
    assert(Html2Text.extract(t, Options(listBullets = false)) ==
      "  A\n  B\n    C\n    D\n      E\n      F\n    G\n      H\n      I\n  J")
    assert(Html2Text.extract(t, Options(listBullets = true)) ==
      "  • A\n  • B\n    1. C\n    2. D\n      1. E\n      2. F\n    3. G\n      1. H\n      2. I\n  1. J")
    assert(Html2Text.extract(t, Options(listBullets = true, formatting = FormatMinimalHtml)) ==
      "<ul>\n  <li>A</li>\n  <li>B\n  <ol>\n    <li>C</li>\n    <li>D\n    <ol>\n      <li>E</li>\n      <li>F</li>\n    </ol></li>\n    <li>G\n    <ol>\n      <li>H</li>\n      <li>I</li>\n    </ol></li>\n  </ol></li>\n</ul>\n<ol>\n  <li>J</li>\n</ol>")
    assert(Html2Text.extract(t, Options(listBullets = false, formatting = FormatMinimalHtml)) ==
      "A\nB\nC\nD\nE\nF\nG\nH\nI\nJ")
  }

  test("empty list items") {
    val t = HtmlTree.parse("""<body>
    <ul>
        <li>A</li>
        <li><button></button></li>
        <li><button>abc</button></li>
        <li></li>
        <li></li>
        <li>B</li>
        <li><button></button></li>
        <li>    </li>
    </ul>
    </body>""")
    assert(Html2Text.extract(t, Options(listBullets = false)) == "  A\n  B")
    assert(Html2Text.extract(t, Options(listBullets = true)) == "  • A\n  • B")
  }

  test("html escaping") {
    val src = """<h1>Hello World</h1>
<p><a href="https://example.com/?foo=bar&amp;bar=baz">link</a></p>
<pre>
Some code
&lt;html&gt;&amp;
<p>foo</p>
</pre>
&lt;html&gt;
<h2>&lt;html&gt;&amp;</h2>
<ul>
    <li>&lt;html&gt;&amp;</li>
</ul>
<textarea>&lt;html&gt;&amp;</textarea>"""
    val t = HtmlTree.parse(src)

    def expectedHtml(link: String, textarea: String) =
      s"""<h1>Hello World</h1>
         |
         |<p>$link</p>
         |
         |<pre>Some code
         |&lt;html&gt;&amp;
         |<p>foo</p>
         |</pre>
         |&lt;html&gt;
         |
         |<h2>&lt;html&gt;&amp;</h2>
         |
         |<ul>
         |  <li>&lt;html&gt;&amp;</li>
         |</ul>$textarea""".stripMargin

    assert(Html2Text.extract(t, Options(formatting = FormatMinimalHtml)) ==
      expectedHtml("link", ""))
    assert(Html2Text.extract(t,
      Options(formatting = FormatMinimalHtml, links = true, formFields = true)) ==
      expectedHtml("<a href=\"https://example.com/?foo=bar&amp;bar=baz\">link</a>",
        "\n[ &lt;html&gt;&amp; ]"))

    def expectedBasic(link: String) =
      s"""Hello World
         |
         |$link
         |
         |Some code
         |<html>&
         |
         |foo
         |<html>
         |
         |<html>&
         |
         |  • <html>&
         |[ <html>& ]""".stripMargin

    assert(Html2Text.extract(t, Options(links = false, formFields = true)) ==
      expectedBasic("link"))
    assert(Html2Text.extract(t, Options(links = true, formFields = true)) ==
      expectedBasic("link (https://example.com/?foo=bar&bar=baz)"))
    assert(Html2Text.extract(t,
      Options(formatting = FormatOff, links = true, formFields = true)) ==
      "Hello World link (https://example.com/?foo=bar&bar=baz) Some code <html>& foo <html> <html>& <html>& [ <html>& ]")
  }

  test("margin collapsing") {
    val t = HtmlTree.parse(
      "<p>Hello\nWorld</p>\n\n<p>Hello<br>World<br><br><br><br></p>\n\n<p>Hello<br>World<br><br><br><br></p>\n\n<div>Hello World</div>")
    assert(Html2Text.extract(t, Options()) ==
      "Hello World\n\nHello\nWorld\n\n\n\nHello\nWorld\n\n\n\nHello World")
    assert(Html2Text.extract(t, Options(formatting = FormatMinimalHtml)) ==
      "<p>Hello World</p>\n\n<p>Hello<br>\nWorld<br><br><br><br></p>\n\n<p>Hello<br>\nWorld<br><br><br><br></p>\n\nHello World")
  }

  test("real world data: extraction is non-empty and main-content is smaller") {
    import graft.core._
    val (in, _) = WarcCodecs.open(new java.io.FileInputStream(
      graft.sources.BenchCorpus.FixtureRaw))
    val recs = try new WarcParser(new WarcByteReader(in), "w",
      WarcParseOptions(recordTypeMask = RecordType.Response)).toVector
      finally in.close()
    var n = 0
    recs.foreach { rec =>
      val t = HtmlTree.parseFromBytes(rec.http.get.body,
        rec.http.flatMap(_.charset).getOrElse("utf-8"))
      val all = Html2Text.extract(t, Options())
      assert(all.nonEmpty, rec.targetUri)
      val main = Html2Text.extract(t, Options(mainContent = true))
      assert(main.nonEmpty, rec.targetUri)
      assert(all.length >= main.length, rec.targetUri)
      n += 1
    }
    assert(n == 16)
  }

  test("isMcCandidate == the CSS selector engine on the root-narrowing " +
    "selector (fixture pages + adversarial class soups)") {
    val sel = ".article-body, .articleBody, .contentBody, .article-text," +
      ".main-content, .postcontent, .post-content, .single-post,[role=\"main\"]"
    def check(t: HtmlTree, label: String): Unit = {
      val root = t.body
      if (root != null) {
        val bySel = new java.util.IdentityHashMap[DomNode, java.lang.Boolean]()
        root.querySelectorAll(sel).foreach(d => bySel.put(d, true))
        DomTraversal.preOrder(root) { d =>
          if (d ne root)
            assert(Html2Text.isMcCandidate(d) == bySel.containsKey(d),
              s"$label <${d.tag} class=${d.getattr("class")} role=${d.getattr("role")}>")
          true
        }
      }
    }
    // the 16 real fixture pages
    import graft.core._
    val (in, _) = WarcCodecs.open(new java.io.FileInputStream(
      graft.sources.BenchCorpus.FixtureRaw))
    val recs = try new WarcParser(new WarcByteReader(in), "w",
      WarcParseOptions(recordTypeMask = RecordType.Response)).toVector
      finally in.close()
    recs.foreach { rec =>
      check(HtmlTree.parseFromBytes(rec.http.get.body,
        rec.http.flatMap(_.charset).getOrElse("utf-8")), rec.targetUri.getOrElse("?"))
    }
    // adversarial soups: near-miss tokens, token boundaries, tabs/NBSP,
    // role variants, case variants, 11/12-length decoys
    val classes = Seq("article-body", "articleBody", "contentBody",
      "article-text", "main-content", "postcontent", "post-content",
      "single-post", "Article-Body", "article-bod", "article-bodyy",
      "xarticle-body", "main-contentx", "post-contents", "singlepost",
      "mainxcontent", "abcdefghijk", "abcdefghijkl", "", " ", "a b c",
      "foo article-body", "article-body bar", "foo article-body bar",
      "foo\tmain-content", "x post-content", "post-content y",
      "article-body\narticleBody")
    val roles = Seq(null, "main", "Main", "main ", " main", "navigation", "")
    val rnd = new scala.util.Random(13)
    (1 to 300).foreach { i =>
      val cls = classes(rnd.nextInt(classes.size))
      val role = roles(rnd.nextInt(roles.size))
      val roleAttr = if (role == null) "" else s""" role="$role""""
      val html = s"""<html><body><div class="$cls"$roleAttr><p class="${
        classes(rnd.nextInt(classes.size))}">x</p></div></body></html>"""
      check(HtmlTree.parse(html), s"soup $i cls=[$cls] role=[$role]")
    }
  }

  test("classifier trigger prefilter is COMPLETE: every regex find() " +
      "implies the pattern's trigger bit, over an adversarial generator " +
      "built from the regexes' own alternation fragments") {
    // every literal fragment appearing in any of the 21 patterns'
    // alternations (prefixes, cores, suffixes), so random compositions
    // reach every branch — including optional-spelling branches like
    // "single_post", "by-line", "ad_c0ffee"
    val fragments = Array(
      "article", "entry", "post", "story", "single", "main", "content",
      "body", "text", "page", "nav", "navigation", "menu", "item",
      "drop", "down", "dropdown", "bread", "crumb", "crumbs", "links",
      "link", "bar", "box", "list", "container", "section", "wrapper",
      "wrap", "wrapp", "trends", "trending", "recommended", "featured",
      "popular", "editors", "editor", "picks", "related", "read", "next",
      "more", "other", "articles", "posts", "guides", "stories", "head",
      "foot", "header", "footer", "right", "left", "copyright", "cookie",
      "consent", "legal", "fcontainer", "teaser", "meta", "data",
      "subline", "sidebar", "author", "authorname", "published",
      "timestamp", "date", "posted", "on", "info", "labels", "label",
      "tags", "tag", "keywords", "category", "by", "line", "submitted",
      "side", "bars", "one", "third", "search", "facility", "skip", "to",
      "scroll", "up", "permalink", "pagination", "prev", "previous",
      "display", "none", "hidden", "invisible", "collapsed", "h", "0",
      "nocontent", "expandable", "xs", "sm", "lg", "xl", "2xl",
      "visibility", "modal", "popup", "lightbox", "window", "pane",
      "gallery", "carousel", "log", "in", "sign", "account", "user",
      "profile", "settings", "actions", "google", "wide", "ads", "ad",
      "advert", "advertisement", "advertlink", "a0b1", "sponsor",
      "sponsored", "promoted", "paid", "banner", "donate", "social",
      "media", "sharedaddy", "share", "syndication", "newsletter",
      "sharing", "follow", "email", "likes", "like", "feedback", "give",
      "engagement", "brand", "branding", "facebook", "twitter",
      "subscribe", "wa", "jp", "aptf", "comments", "comment", "reply",
      "no", "logo", "print", "spinner", "short", "view", "count", "is",
      "visually", "l", "m", "wp", "c", "p", "global", "site", "sub",
      "sticky", "full", "mobile", "desktop", "target", "btn", "buttons",
      "icons", "qqq", "zzz9")
    val seps = Array("", " ", "_", "-", "--", "__", "  ", "\t", ";", ":",
      "; ", " : ")
    val rnd = new scala.util.Random(99)
    def gen(): String = {
      val n = 1 + rnd.nextInt(5)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0 || rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.length)))
        val f = fragments(rnd.nextInt(fragments.length))
        // random ASCII case flips (patterns are CASE_INSENSITIVE)
        f.foreach { ch =>
          sb.append(if (ch.isLetter && rnd.nextBoolean()) ch.toUpper else ch)
        }
        i += 1
      }
      if (rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.length)))
      sb.toString
    }
    var checked = 0L
    (1 to 200000).foreach { k =>
      val s = gen()
      val mask = Html2Text.triggerMask(s)
      Html2Text.ClassifierPatterns.foreach { case (idx, p) =>
        if (p.matcher(s).find()) {
          checked += 1
          assert((mask & (1L << idx)) != 0L,
            s"prefilter false-negative: pattern $idx matched [$s] without its trigger bit")
        }
      }
    }
    assert(checked > 50000L, s"generator too weak: only $checked matches exercised")
  }
}
