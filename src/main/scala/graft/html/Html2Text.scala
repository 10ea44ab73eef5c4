package graft.html

import scala.collection.mutable
import java.util.regex.Pattern

/** `extract_plain_text` — the reference's flagship compound operator
  * (resiliparse-py/resiliparse/extract/html2text.pyx:736-933), pinned by
  * its golden tests (tests/resiliparse/extract/test_html2text.py).
  *
  * Pipeline: skip-list CSS blacklist resolved once → optional
  * main-content root narrowing (only on a UNIQUE match) → pre-order DOM
  * walk with end-tag visits collecting flat ExtractNodes → rule-based
  * main-content classifier per node → serializer with margin collapsing,
  * list numbering/bullets, 2-space list indents, `<pre>` preservation
  * and minimal-HTML tag re-emission.
  */
object Html2Text {

  val FormatOff = 0
  val FormatBasic = 1
  val FormatMinimalHtml = 2

  final case class Options(
      formatting: Int = FormatBasic,
      mainContent: Boolean = false,
      listBullets: Boolean = true,
      altTexts: Boolean = true,
      links: Boolean = false,
      formFields: Boolean = false,
      noscript: Boolean = false,
      comments: Boolean = true,
      postMeta: Boolean = true,
      hiddenElements: Boolean = false,
      skipElements: Seq[String] = Nil,
      // MemGuard budget: max DOM nodes (DOM path) and extract-node vector
      // entries (both paths) for ONE document; breach throws
      // graft.core.MemGuardException (surface as an error column, never
      // let one bomb document OOM an executor)
      maxNodes: Int = Int.MaxValue)

  /** Block-level tags (resiliparse-py/resiliparse/parse/html.h:22-58). */
  private[html] val BlockElements: Set[String] = Set("address", "article", "aside",
    "blockquote", "br", "center", "details", "dd", "dt", "div", "dl", "fieldset",
    "figcaption", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hgroup", "hr", "li", "main", "nav", "ol", "p", "pre", "section",
    "table", "tr", "ul")

  private[html] val BigBlock = Set("p", "h1", "h2", "h3", "h4")
  private val ListBullet = "•"

  // literal Sets hoisted out of the per-event callback/classifier —
  // Scala builds a Set literal on every evaluation (a measurable
  // allocation at one construction per element visit)
  private val SkippedInputTypes = Set("checkbox", "color", "file", "hidden",
    "radio", "reset")
  private val MinimalReEmitTags = Set("h1", "h2", "h3", "h4", "h5", "h6", "p")
  private val BlacklistRels = Set("author", "icon", "search", "prev", "next", "tag")
  private val BlacklistItemprops = Set("datePublished", "author", "url")

  private[html] final class ExtractNode(
      val referenceNode: DomNode,
      val tag: String,
      val depth: Int,
      val isEndTag: Boolean) {
    var preDepth: Int = 0
    var spaceAfter: Boolean = false
    var collapseMargins: Boolean = true
    var makeBlock: Boolean = true
    var makeBigBlock: Boolean = false
    var escapeTextContents: Boolean = false
    var textContents: StringBuilder = _
    def ensureText(): StringBuilder = {
      // 64, not the default 16: typical text runs are 50-500 chars, and
      // the growth copy-ups from 16 were ~1 GB over a w19-sized profile
      if (textContents == null) textContents = new StringBuilder(64)
      textContents
    }
  }

  def extract(tree: HtmlTree, opts: Options): String = extract(tree.body, opts)

  /** Extract straight from markup: DOM-free streaming walk when the
    * option set allows it (see [[Html2TextStream.eligible]]), DOM parse +
    * walk otherwise. Identical output either way.
    */
  def extractFromHtml(html: String, opts: Options): String =
    if (Html2TextStream.eligible(opts)) Html2TextStream.extract(html, opts)
    else extract(HtmlTree.parse(html, opts.maxNodes), opts)

  /** Per-element collapsed-text / link-text lengths, precomputed in one
    * post-order pass so the main-content classifier's link-cluster
    * heuristic is O(1) per node instead of O(subtree) (which made the
    * whole extraction O(n·depth): every bare <div> past depth 5 re-built
    * its subtree's text).
    *
    * `clen` is exactly `collapseWhitespace(n.text).length`: collapsed
    * lengths compose over concatenation by merging a trailing whitespace
    * run with a leading one. `linkLen` is the sum of `clen` over strict
    * `<a>` descendants — the same set `getElementsByTagName("a")` yields.
    */
  private final class TextStats {
    var clen = 0
    var startsWs = false
    var endsWs = false
    var empty = true
    var linkLen = 0
  }

  /** NB: stats attach to the tree's own nodes (`extractScratch`) — one
    * post-order pass, O(1) reads during classification, no per-call map.
    * Consequence: a DomNode TREE MUST NOT be extracted by two threads
    * concurrently (same contract as the reference's trees, which are not
    * thread-safe either). The engine's scan pipeline parses per record
    * per task, so no tree is ever shared across threads.
    */
  private def buildTextStats(root: DomNode): Unit = {
    def rec(n: DomNode): TextStats = {
      val st = new TextStats
      if (n.isText) {
        val v = n.value
        if (v != null && v.nonEmpty) {
          st.empty = false
          st.startsWs = HtmlParser.isWs(v.charAt(0))
          st.endsWs = HtmlParser.isWs(v.charAt(v.length - 1))
          var i = 0
          var c = 0
          var inWs = false
          while (i < v.length) {
            if (HtmlParser.isWs(v.charAt(i))) {
              if (!inWs) { c += 1; inWs = true }
            } else { c += 1; inWs = false }
            i += 1
          }
          st.clen = c
        }
      } else if (n.nodeType != NodeType.Comment) {
        var ch = n.firstChild
        while (ch != null) {
          val cs = rec(ch)
          if (!cs.empty) {
            if (st.empty) {
              st.clen = cs.clen; st.startsWs = cs.startsWs
              st.endsWs = cs.endsWs; st.empty = false
            } else {
              st.clen += cs.clen - (if (st.endsWs && cs.startsWs) 1 else 0)
              st.endsWs = cs.endsWs
            }
          }
          st.linkLen += cs.linkLen + (if (ch.isElement && ch.tag == "a") cs.clen else 0)
          ch = ch.next
        }
        if (n.isElement) n.extractScratch = st
      }
      st
    }
    rec(root)
  }

  /** Extract from a subtree root (normally the body). */
  def extract(rootIn: DomNode, opts: Options): String = {
    if (rootIn == null) return ""
    var root = rootIn

    // skip-list selector (html2text.pyx:806-815). NB the reference
    // accidentally concatenates 'embed' and 'img' into one selector
    // ('embedimg'); behaviorally identical here because neither element
    // can carry text children and alt emission is gated on opts.altTexts.
    val skip = mutable.Set("script", "style", "iframe", "frame", "template")
    skip ++= opts.skipElements
    if (!opts.altTexts) skip ++= Seq("object", "video", "audio", "embed", "img",
      "area", "svg", "figcaption", "figure")
    if (!opts.noscript) skip += "noscript"
    if (!opts.formFields) skip ++= Seq("textarea", "input", "button", "select",
      "option", "label")

    // main-content root narrowing: used only on a unique match
    // (html2text.pyx:879-889). Semantically `querySelectorAll(
    // ".article-body, .articleBody, .contentBody, .article-text,
    // .main-content, .postcontent, .post-content, .single-post,
    // [role=\"main\"]")` on strict descendants — but specialized: the
    // generic selector walk (9 compounds × every element, hasToken per
    // class compound) was ~28% of main-content extraction by JFR
    // samples. One pass, class attr tokenized once, 11/12-length
    // pre-filter (every candidate token is 11 or 12 chars), early
    // abort on the second match (only uniqueness matters).
    if (opts.mainContent) {
      var first: DomNode = null
      var cnt = 0
      def scan(n: DomNode): Unit = {
        if (cnt >= 2) return
        if ((n ne root) && isMcCandidate(n)) {
          if (cnt == 0) first = n
          cnt += 1
          if (cnt >= 2) return
        }
        var c = n.firstChild
        while (c != null && cnt < 2) { scan(c); c = c.next }
      }
      scan(root)
      if (cnt == 1) root = first
    }

    // the built-in skip entries are all plain tag names; when the caller
    // adds only tag names too (the overwhelming case), the blacklist is
    // exactly a tag-membership test — skip the full-tree CSS pass that
    // materialized an identity set of matches per document
    val tagOnlySkip = skip.forall(_.matches("[a-zA-Z][a-zA-Z0-9-]*"))
    val blacklist: DomNode => Boolean =
      if (tagOnlySkip) {
        val tags = skip.map(_.toLowerCase) // CSS type selectors match case-insensitively
        // `ne root`: querySelectorAll matched strict DESCENDANTS only, so
        // extracting FROM a skip-listed element (extract(figure, ...))
        // must still walk its subtree — only nested occurrences skip
        n => (n ne root) && n.isElement && tags.contains(n.tag)
      }
      else {
        val set = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[DomNode, java.lang.Boolean]())
        root.querySelectorAll(skip.mkString(", ")).foreach(set.add)
        set.contains _
      }

    // depth of root below body (body_depth = depth + base_depth)
    var baseDepth = 0
    var p = root
    while (p.tag != "body" && p.parent != null) { baseDepth += 1; p = p.parent }

    val nodes = mutable.ArrayBuffer.empty[ExtractNode]
    var charsExtracted = 0
    if (opts.mainContent) buildTextStats(root)
    val clsMemo = if (opts.mainContent) new ClsMemo else null
    val mcAttrs = if (opts.mainContent) new McAttrs else null

    // pre-order walk with end-tag visits (next_node semantics,
    // html.pyx:117-151): end visits fire only for elements we descended
    // into; skipped subtrees get no end visit.
    def walk(n: DomNode, depth: Int): Unit = {
      val isCharData = n.isText
      if (!isCharData && !n.isElement) return
      if (blacklist(n)) return
      if (opts.mainContent &&
          !isMainContentNode(n, depth + baseDepth, opts.comments, opts.postMeta,
            opts.hiddenElements, clsMemo, mcAttrs))
        return
      extractCb(nodes, n, depth, isEndTag = false, opts)
      recordChars()
      if (n.isElement && n.firstChild != null) {
        var c = n.firstChild
        while (c != null) { walk(c, depth + 1); c = c.next }
        extractCb(nodes, n, depth, isEndTag = true, opts)
        recordChars()
      }
    }
    def recordChars(): Unit =
      if (nodes.nonEmpty && nodes.last.textContents != null)
        charsExtracted += nodes.last.textContents.length

    // the root itself is visited first (matches reference: ctx.node
    // starts at root)
    walk(root, 0)

    rstrip(serialize(nodes, opts))
  }

  // — extraction callback (html2text.pyx:163-259) —

  private[html] def extractCb(nodes: mutable.ArrayBuffer[ExtractNode], n: NodeView,
      depth: Int, isEndTag: Boolean, opts: Options): Unit = {
    // no lastOption: this runs once per tag/text event and the Option
    // wrapper was measurable allocation on the extraction hot path
    val last = if (nodes.isEmpty) null else nodes(nodes.size - 1)
    var current = last

    val fl = n.tagFlags
    val isBlock = (fl & HtmlParser.TagFlags.BlockF) != 0

    if (last == null || isBlock || depth < last.depth ||
        (opts.links && n.tag == "a") || n.tag == "textarea") {
      current = new ExtractNode(n.domOrNull, if (n.isElement) n.tag else "", depth, isEndTag)
      current.makeBlock = isBlock
      current.makeBigBlock = (fl & HtmlParser.TagFlags.BigBlockF) != 0
      current.preDepth = if (last != null) last.preDepth else 0
      if (n.tag == "pre" || n.tag == "textarea")
        current.preDepth += (if (!isEndTag) 1 else -1)
      current.escapeTextContents = opts.formatting == FormatMinimalHtml
      if (nodes.size >= opts.maxNodes)
        throw new graft.core.MemGuardException(
          s"mem guard: extract node budget ${opts.maxNodes} exceeded")
      nodes += current
    }

    if (n.isText) {
      if (current.tag == "a" && opts.formatting >= FormatMinimalHtml) {
        val text = escapeHtml(if (n.value == null) "" else n.value)
        current.ensureText()
        if (text.nonEmpty) current.textContents.append(text)
      } else {
        // slice-aware append: the streaming view copies straight from
        // the input string, skipping the intermediate String per run
        current.ensureText()
        n.appendValueTo(current.textContents)
      }
    } else if (!n.isElement) {
      ()
    } else if (n.tag == "br" && opts.formatting == FormatBasic) {
      current.ensureText()
      current.collapseMargins = false
    } else if (opts.links && n.tag == "a") {
      val href = n.getattr("href").getOrElse("").trim
      current.ensureText()
      current.makeBlock = false
      if (opts.formatting == FormatMinimalHtml) {
        if (!isEndTag) current.textContents.append("<a href=\"").append(escapeHtml(href)).append("\">")
        else current.textContents.append("</a>")
        current.escapeTextContents = false
      } else if (isEndTag) {
        current.textContents.append(" (").append(href).append(')')
      }
    } else if (opts.altTexts && (n.tag == "img" || n.tag == "area")) {
      current.ensureText()
      val alt = n.getattr("alt").getOrElse("")
      if (alt.nonEmpty) current.textContents.append(alt)
    } else if (opts.formFields && (n.tag == "textarea" || n.tag == "button")) {
      current.ensureText()
      current.textContents.append(if (!isEndTag) "[ " else " ] ")
    } else if (opts.formFields && n.tag == "input") {
      val typ = n.getattr("type").getOrElse("").trim
      if (typ.isEmpty || !SkippedInputTypes.contains(typ)) {
        var v = n.getattr("value").getOrElse("").trim
        if (v.isEmpty) v = n.getattr("placeholder").getOrElse("").trim
        if (v.nonEmpty) current.ensureText().append("[ ").append(v).append(" ] ")
      }
    }
  }

  // — serializer (html2text.pyx:282-437) —

  private[html] def serialize(nodes: mutable.ArrayBuffer[ExtractNode], opts: Options): String = {
    // pre-size to the total text length (+ margin/indent slack): output
    // growth doubled through ~1.7 GB of copy-up over a w19-sized profile
    val output = new StringBuilder({
      var cap = 64
      var i = 0
      while (i < nodes.length) {
        val tc = nodes(i).textContents
        if (tc != null) cap += tc.length + 4
        i += 1
      }
      cap
    })
    // scratch for the collapse fast path: per-char StringBuilder.charAt
    // pays a UTF16 bounds check per call (the top frame in the w19
    // profile) — one bulk getChars into this array then an indexed scan
    // replaces it; grown to the largest node text, reused across nodes
    var scratch: Array[Char] = null
    var elementTextPrefix = ""
    var bulletInserted = false
    var listDepth = 0
    var marginSize = 0
    var uncollapsedMarginCount = 0
    val listNumbering = mutable.ArrayBuffer.empty[Int]

    def makeIndent(depth: Int): Unit = {
      if (depth <= 0) return
      if (opts.formatting == FormatOff) rstripInPlace(output)
      appendRepeat(output, ' ', depth * 2)
    }

    def makeMargin(node: ExtractNode): Unit = {
      if (marginSize == 0) return
      if (node.preDepth == 0 || opts.formatting == FormatOff) rstripInPlace(output)
      if (opts.formatting == FormatOff && output.nonEmpty) output.append(' ')
      else if (opts.formatting >= FormatBasic && output.nonEmpty)
        appendRepeat(output, '\n', marginSize)
      marginSize = 0
    }

    var pollCtr = 0
    var nodeIdx = 0
    while (nodeIdx < nodes.length) {
      val node = nodes(nodeIdx)
      nodeIdx += 1
      // cooperative guard cancellation, amortized (see HtmlParser loop)
      pollCtr += 1
      if ((pollCtr & 0x3FF) == 0) graft.core.MemGuard.poll()
      var makeBlock = node.makeBlock

      if (opts.formatting >= FormatBasic) {
        if (makeBlock && !node.collapseMargins) uncollapsedMarginCount += 1

        // list tags
        if (node.tag == "ul" || node.tag == "ol" ||
            (node.tag == "li" && listDepth == 0)) {
          if (node.isEndTag) {
            if (listDepth > 0) { listDepth -= 1; listNumbering.remove(listNumbering.size - 1) }
            bulletInserted = false
            elementTextPrefix = ""
          } else {
            listDepth += 1
            listNumbering += (if (node.tag == "ol") 1 else 0)
          }
        }

        // list item tags
        if (opts.listBullets && node.tag == "li") {
          if (opts.formatting == FormatBasic) {
            if (listNumbering.nonEmpty && listNumbering.last == 0)
              elementTextPrefix = ListBullet + " "
            else if (listNumbering.nonEmpty) {
              elementTextPrefix = s"${listNumbering.last}. "
              if (!node.isEndTag) listNumbering(listNumbering.size - 1) += 1
            }
            bulletInserted = !node.isEndTag
          } else if (opts.formatting == FormatMinimalHtml) {
            makeMargin(node)
            if (!node.isEndTag) {
              appendRepeat(output, ' ', 2 * listDepth)
              output.append("<li>")
              marginSize = 0
              makeBlock = false
            } else {
              if (node.preDepth == 0) rstripInPlace(output)
              output.append("</li>\n")
            }
          }
        }
      }

      if (opts.formatting == FormatMinimalHtml) {
        if (node.tag == "pre") {
          if (!node.isEndTag) makeMargin(node)
          output.append(if (node.isEndTag) "</pre>" else "<pre>")
          marginSize = 0
        }
        if (node.preDepth > 0) makeBlock = false
        if (node.tag == "br") output.append("<br>")

        // re-emit select start/end tags
        if (node.referenceNode != null && node.referenceNode.firstChild != null &&
            (MinimalReEmitTags.contains(node.tag) ||
             ((node.tag == "ul" || node.tag == "ol") && opts.listBullets))) {
          if ((!node.isEndTag && node.preDepth == 0) ||
              (uncollapsedMarginCount > 0 && node.collapseMargins)) {
            if (node.collapseMargins)
              marginSize = math.max(marginSize,
                b2i(makeBlock) + b2i(node.makeBigBlock))
            else
              marginSize += b2i(makeBlock) + b2i(node.makeBigBlock)
            makeMargin(node)
            makeBlock = false
            uncollapsedMarginCount = 0
          }
          if (opts.listBullets) {
            val adj = if (listDepth > 0 && !node.isEndTag &&
              (node.tag == "ul" || node.tag == "ol")) 1 else 0
            makeIndent(listDepth - adj)
          }
          output.append('<')
          if (node.isEndTag) output.append('/')
          output.append(node.tag).append('>')
          if (output.nonEmpty && (node.tag == "ul" || node.tag == "ol") &&
              !node.isEndTag && node.preDepth == 0)
            output.append('\n')
        }
      }

      // record-size follow-up margins
      if (makeBlock) {
        if (node.collapseMargins)
          marginSize = math.max(marginSize,
            if (node.makeBigBlock && node.preDepth == 0) 2 else 1)
        else
          marginSize += (if (node.makeBigBlock) 2 else 1)
      }

      if (node.textContents != null && !node.escapeTextContents) {
        // fast path (every non-minimal-HTML format): collapse + lstrip
        // stream straight into the output builder — the toString/
        // collapseWhitespace/lstrip chain was three allocations and three
        // copies per node
        val tc = node.textContents
        val tcLen = tc.length
        val doCollapse = node.preDepth == 0 || opts.formatting == FormatOff
        val doLstrip = doCollapse &&
          (makeBlock || (output.nonEmpty && output.last.isWhitespace))
        if (doCollapse && tcLen > 0) {
          if (scratch == null || scratch.length < tcLen)
            scratch = new Array[Char](math.max(tcLen, 1024))
          tc.underlying.getChars(0, tcLen, scratch, 0)
        }
        var s = 0
        if (doLstrip) while (s < tcLen && HtmlParser.isWs(scratch(s))) s += 1
        val empty = if (doLstrip) s >= tcLen else tcLen == 0
        if (!empty) {
          makeMargin(node)
          uncollapsedMarginCount = 0

          if (listDepth > 0 && opts.formatting == FormatBasic) {
            makeIndent(listDepth +
              (if (opts.listBullets && !bulletInserted) 1 else 0))
            bulletInserted = false
          }

          if (opts.formatting >= FormatBasic && (node.tag == "td" || node.tag == "th")) {
            if (output.nonEmpty && output.last != '\n') output.append("\t\t")
          }

          output.append(elementTextPrefix)
          elementTextPrefix = ""
          if (!doCollapse) output.underlying.append(tc.underlying)
          else {
            // LOCAL collapse semantics (identical to collapseWhitespace
            // on the standalone string): each ws run -> one space, run
            // state independent of what's already in `output`. Non-ws
            // runs append in bulk from the scratch copy.
            var k = s
            var prevWs = false
            var any = false
            var runStart = -1
            while (k < tcLen) {
              if (HtmlParser.isWs(scratch(k))) {
                if (runStart >= 0) {
                  output.underlying.append(scratch, runStart, k - runStart)
                  runStart = -1
                }
                if (!any || !prevWs) { output.append(' '); any = true; prevWs = true }
              } else {
                if (runStart < 0) runStart = k
                any = true; prevWs = false
              }
              k += 1
            }
            if (runStart >= 0)
              output.underlying.append(scratch, runStart, tcLen - runStart)
          }
        }
      } else if (node.textContents != null) {
        // minimal-HTML path: needs the materialized string for escaping
        var elementText = node.textContents.toString
        if (node.preDepth == 0 || opts.formatting == FormatOff) {
          elementText = collapseWhitespace(elementText)
          if (makeBlock || (output.nonEmpty && output.last.isWhitespace))
            elementText = lstrip(elementText)
        }
        if (elementText.nonEmpty) {
          elementText = escapeHtml(elementText)

          makeMargin(node)
          uncollapsedMarginCount = 0

          if (listDepth > 0 && opts.formatting == FormatBasic) {
            makeIndent(listDepth +
              (if (opts.listBullets && !bulletInserted) 1 else 0))
            bulletInserted = false
          }

          if (opts.formatting >= FormatBasic && (node.tag == "td" || node.tag == "th")) {
            if (output.nonEmpty && output.last != '\n') output.append("\t\t")
          }

          output.append(elementTextPrefix)
          elementTextPrefix = ""
          output.append(elementText)
        }
      }
    }

    output.toString
  }

  private def b2i(b: Boolean): Int = if (b) 1 else 0

  private def appendRepeat(sb: StringBuilder, c: Char, n: Int): Unit = {
    var i = 0
    while (i < n) { sb.append(c); i += 1 }
  }

  // — main-content classifier (html2text.pyx:440-733) —

  /** The root-narrowing candidate classes (html2text.pyx:879-889) — all
    * 11 or 12 chars, which the scan uses as a token pre-filter.
    */
  private val McCandidateTokens: Array[String] = Array(
    "article-body", "articleBody", "contentBody", "article-text",
    "main-content", "postcontent", "post-content", "single-post")

  /** `.article-body, …, [role="main"]` as a direct test: CSS class
    * selectors are whitespace-token + case-sensitive matches
    * ([[DomNode.hasToken]] semantics), `[role="main"]` is exact
    * equality — pinned against the selector engine in Html2TextSpec.
    */
  private[html] def isMcCandidate(n: DomNode): Boolean = {
    if (!n.isElement) return false
    val attrs = n.attrsOrNull
    if (attrs == null) return false
    // one entry walk, not two hashed lookups (findEntry dominated the
    // scan's JFR profile)
    var role: String = null
    var cls: String = null
    attrs.foreachEntry { (k, v) =>
      if (k == "role") role = v else if (k == "class") cls = v
    }
    if (role == "main") return true
    if (cls == null || cls.length < 11) return false
    val len = cls.length
    var i = 0
    while (i < len) {
      while (i < len && Character.isWhitespace(cls.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(cls.charAt(i))) i += 1
      val tl = i - start
      if (tl == 11 || tl == 12) {
        var t = 0
        while (t < McCandidateTokens.length) {
          val tok = McCandidateTokens(t)
          if (tok.length == tl && cls.regionMatches(start, tok, 0, tl))
            return true
          t += 1
        }
      }
    }
    false
  }

  /** 19 class/id regexes (html2text.pyx:469-489), java.util.regex
    * (the RE2 syntax used is compatible), all case-insensitive.
    */
  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)
  private val articleClsRe = ci("(?:^|[\\s_-])(?:article|entry|post|story|single[_-]?post|(?:main[_-])?content|body|text|page)?(?:$|[\\s_-])")
  private val navClsRe = ci("(?:^|\\s)(?:(?:l|m|wp|main|site|page|sub|article|global|sticky|main)[_-]*)?(?:nav(?:igation)?|menu(?:[_-]item)?|drop[_-]?down|bread[_-]?crumbs?)|(?:links?[_-]?(?:bar|box|list|container|section|wrapp(?:er))?)(?:$|[\\s_-])")
  private val recommendedClsRe = ci("(?:^|[\\s_-])(?:trends|trending|recommended|featured|popular|editors?[_-]picks|related|read-next|(?:related|more|other)[_-]?(?:links|articles|posts|guides|stories))(?:$|[\\s_-])")
  private val landmarkIdRe = ci("^(?:(?:l|wp|global|page|site|full|sticky)[_-]*)?(?:(?:head|foot)(?:er)?|right)$")
  private val headerClsRe = ci("(?:^|\\s)(?:l|m|wp|global|page|site|full|sticky)[_-]*header(?:[_-]?wrap(?:per)?|bar)?(?:$|\\s)")
  private val footerClsRe = ci("(?:^|[\\s_-])(?:global|page|site|copyright)?(?:footer|copyright|cookie|consent|legal|fcontainer)(?:$|[\\s_-])")
  private val postMetaClsRe = ci("(?:^|[\\s_-])(?:(?:post|entry|article(?:page)?|content|story|section)[_-]*(?:text[_-]*)?(?:footer|teaser|meta(?:[_-]?data)?|subline|sidebar|author(?:name)?|published|timestamp|date|posted[_-]?on|info|labels?|tags?|keywords|category)|by[_-]?line|date[_-]?line|author-date|submitted(?:-by)?)|meta[_-]?data(?:$|[\\s_-])")
  private val sidebarClsRe = ci("(?:^|\\s)(?:(?:l|wp|right|left|global|sticky)[_-]*)?(?:(?:side|sticky)[_-]?(?:bars?|box)|one-third)(?:$|[\\s_-])")
  private val searchClsRe = ci("(?:^|[\\s_-])search(?:[_-]?(?:bar|facility|box))?(?:$|\\s)")
  private val skipLinkClsRe = ci("(?:^|\\s)(?:link[_-]?)?(?:skip(?:[_-]?(?:to|link))?|scroll[_-]?(?:up|down)|next|prev(?:ious)?|permalink|pagination|skip-to-(?:main-)?content)(?:$|\\s|[_-]?(?:post|article))")
  private val displayClsRe = ci("(?:^|\\s)(?:(?:is|visually)[_-])?(?:display-none|hidden|invisible|collapsed|h-0|nocontent|expandable)(?:-xs|-sm|-lg|-2?xl)?(?:$|\\s)")
  private val displayCssRe = ci("(?:^|;\\s*)(?:display\\s?:\\s?none|visibility\\s?:\\s?hidden)(?:$|\\s?;)")
  private val modalClsRe = ci("(?:^|\\s)(?:wp-|p-|-l)?(?:modal|popup|lightbox)(?:[_-]*(?:window|pane|box))?(?:$|[\\s_-])")
  private val galleryClsRe = ci("(?:^|[\\s_-])(?:gallery|carousel)(?:$|[\\s_-])")
  private val signinClsRe = ci("(?:^|[\\s_-])(?:(?:log[_-]?in|sign[_-]?(?:in|up)|account)|user[_-](?:info|profile|settings|actions))(?:$|[\\s_-])")
  private val adsClsRe = ci("(?:^|\\s)(?:(?:google|wide)[_-]?ads?|ad(?:vert|vertise(?:ment|link)?|$|_[a-f0-9]+)|sponsor(?:ed)?|promoted|paid|(?:wide)?banner|donate)(?:$|[\\s_-])")
  private val socialClsRe = ci("(?:^|\\s|__|--|mobile-|desktop-|l-|m-|c-)(?:social(?:media|search)?|share(?:daddy)?|syndication|newsletter|sharing|follow|email|likes?|(?:give[_-]?)?feedback|(?:brand[_-])?engagement|facebook|twitter|subscribe|wa|jp|aptf-follow)(?:[_-]?(?:post|links?|section|icons?|btn|buttons?|target))?(?:$|[\\s_-])")
  private val commentsClsRe = ci("(?:^|[\\s_-])(?:(?:article|user|post)[_-]*)?(?:(?:no[_-]?)?comments?|comment[_-]?list|reply)(?:$|[\\s_-])")
  private val logoClsRe = ci("(?:brand(?:ing)?[_-]*)?logo(?:$|\\s)")
  private val printClsRe = ci("(?:^|\\s)print[_-]")
  private val otherJunkClsRe = Pattern.compile("(?:^|\\s)short-view-count|spinner(?:$|[\\s_-])")

  /** Probe-index → pattern table (the ClsMemo probe ids used across
    * isMainContentNode) for the prefilter-necessity spec: the fuzz
    * generator asserts every regex find() implies its trigger bit.
    */
  private[html] lazy val ClassifierPatterns: Array[(Int, Pattern)] = Array(
    0 -> displayClsRe, 1 -> displayCssRe, 2 -> skipLinkClsRe,
    3 -> signinClsRe, 4 -> postMetaClsRe, 5 -> socialClsRe, 6 -> logoClsRe,
    7 -> adsClsRe, 8 -> otherJunkClsRe, 9 -> articleClsRe,
    10 -> landmarkIdRe, 11 -> headerClsRe, 12 -> footerClsRe,
    13 -> navClsRe, 14 -> recommendedClsRe, 15 -> commentsClsRe,
    16 -> searchClsRe, 17 -> sidebarClsRe, 18 -> modalClsRe,
    19 -> galleryClsRe, 20 -> printClsRe)

  private val BlacklistAriaRoles = Set("alert", "banner", "checkbox", "comment",
    "complementary", "contentinfo", "dialog", "img", "menu", "menubar", "menuitem",
    "navigation", "presentation", "radio", "search", "searchbox", "separator",
    "tab", "toolbar", "tooltip")

  private def found(s: String, p: Pattern): Boolean =
    s.nonEmpty && p.matcher(s).find()

  // — trigger prefilter for the classifier regexes —
  // Each probe index (ClsMemo ids 0..20) has a COMPLETE set of
  // necessity literals: every string its regex can find() must contain
  // at least one of them, case-insensitively (asserted by the
  // adversarial generator in Html2TextSpec). One Aho-Corasick pass per
  // first-seen attr string computes the candidate-pattern bitmask and
  // only candidate regexes ever run — the JFR-dominant cost after the
  // memo was exactly these probes on first-seen strings (1.22-1.26x
  // main-content throughput in an interleaved A/B; README "Performance
  // vs BASELINE.md").
  // articleClsRe (idx 9) can match via its zero-width middle on bare
  // separator chars, so its triggers include the separator chars
  // themselves (the exact \s set java regex uses, plus _ and -): a
  // single-token class like "btnPrimary" skips even this pattern.
  private val TriggerLiterals: Array[(String, Int)] = Array(
    "article" -> 9, "entry" -> 9, "post" -> 9, "story" -> 9,
    "content" -> 9, "body" -> 9, "text" -> 9, "page" -> 9,
    " " -> 9, "\t" -> 9, "\n" -> 9, "\u000B" -> 9, "\f" -> 9, "\r" -> 9,
    "_" -> 9, "-" -> 9,
    "display-none" -> 0, "hidden" -> 0, "invisible" -> 0, "collapsed" -> 0,
    "h-0" -> 0, "nocontent" -> 0, "expandable" -> 0,
    "display" -> 1, "visibility" -> 1,
    "skip" -> 2, "scroll" -> 2, "next" -> 2, "prev" -> 2,
    "permalink" -> 2, "pagination" -> 2,
    "log" -> 3, "sign" -> 3, "account" -> 3, "user" -> 3,
    "footer" -> 4, "teaser" -> 4, "meta" -> 4, "subline" -> 4,
    "sidebar" -> 4, "author" -> 4, "published" -> 4, "timestamp" -> 4,
    "date" -> 4, "posted" -> 4, "info" -> 4, "label" -> 4, "tag" -> 4,
    "keyword" -> 4, "category" -> 4, "submitted" -> 4,
    "byline" -> 4, "by-line" -> 4, "by_line" -> 4,
    "social" -> 5, "share" -> 5, "sharing" -> 5, "syndication" -> 5,
    "newsletter" -> 5,
    "follow" -> 5, "email" -> 5, "like" -> 5, "feedback" -> 5,
    "engagement" -> 5, "facebook" -> 5, "twitter" -> 5, "subscribe" -> 5,
    "wa" -> 5, "jp" -> 5,
    "logo" -> 6,
    "ad" -> 7, "sponsor" -> 7, "promoted" -> 7, "paid" -> 7,
    "banner" -> 7, "donate" -> 7,
    "short-view-count" -> 8, "spinner" -> 8,
    "head" -> 10, "foot" -> 10, "right" -> 10,
    "header" -> 11,
    "footer" -> 12, "copyright" -> 12, "cookie" -> 12, "consent" -> 12,
    "legal" -> 12, "fcontainer" -> 12,
    "nav" -> 13, "menu" -> 13, "drop" -> 13, "bread" -> 13, "link" -> 13,
    "trend" -> 14, "recommended" -> 14, "featured" -> 14, "popular" -> 14,
    "editor" -> 14, "related" -> 14, "read-next" -> 14, "more" -> 14,
    "other" -> 14,
    "comment" -> 15, "reply" -> 15,
    "search" -> 16,
    "side" -> 17, "sticky" -> 17, "one-third" -> 17,
    "modal" -> 18, "popup" -> 18, "lightbox" -> 18,
    "gallery" -> 19, "carousel" -> 19,
    "print" -> 20)
  private val TriggerAuto = graft.plans.AhoCorasick.build(TriggerLiterals.map(_._1))
  private val TriggerBits: Array[Long] = TriggerLiterals.map(p => 1L << p._2)
  // root fast-path: most chars of most strings stay at the automaton
  // root, so the binary-searched step() there is the scan's hot spot —
  // one direct table read replaces it (no pattern starts non-ASCII)
  private val TriggerRootNext: Array[Int] = {
    val t = Array.fill(128)(0)
    var c = 0
    while (c < 128) { t(c) = math.max(TriggerAuto.step(0, c.toChar), 0); c += 1 }
    t
  }
  /** Candidate-pattern bitmask for `s` — one automaton pass. ASCII-only
    * case folding: the patterns use CASE_INSENSITIVE without
    * UNICODE_CASE, which folds exactly A-Z.
    */
  private[html] def triggerMask(s: String): Long = {
    var mask = 0L
    var node = 0
    var i = 0
    val n = s.length
    while (i < n) {
      var c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (node == 0) node = if (c < 128) TriggerRootNext(c) else 0
      else {
        var nx = TriggerAuto.step(node, c)
        while (nx < 0 && node != 0) {
          node = TriggerAuto.fail(node)
          nx = if (node == 0 && c < 128) TriggerRootNext(c) else TriggerAuto.step(node, c)
        }
        node = if (nx >= 0) nx else 0
      }
      if (node != 0) {
        val outs = TriggerAuto.out(node)
        var j = 0
        while (j < outs.length) { mask |= TriggerBits(outs(j)); j += 1 }
      }
      i += 1
    }
    mask
  }

  /** Per-extraction memo of classifier-regex outcomes keyed by the raw
    * attribute string: pages repeat the same class/id values across
    * hundreds of elements, and the ~17 regex probes per element were a
    * quarter of main-content extraction cost. Two bits per pattern
    * (computed, result) packed in a Long; entry count capped so a page
    * with unbounded distinct class soup degrades to direct matching
    * instead of growing the map.
    */
  private final class ClsMemo {
    private val map = new java.util.HashMap[String, Array[Long]]()
    /** The memo entry for `s`, fetched ONCE per element per attr string
      * (the classifier probes up to 13 patterns against the same
      * string; one hashed get instead of one per probe). null = empty
      * string or memo over cap → probe directly.
      */
    def entry(s: String): Array[Long] = {
      if (s.isEmpty) return null
      var e = map.get(s)
      if (e == null) {
        if (map.size >= 4096) return null
        e = new Array[Long](3)
        // slot 2: the candidate bitmask from ONE automaton pass —
        // probes whose trigger literals are absent short-circuit to
        // "no match" without ever running their regex
        e(2) = triggerMask(s)
        map.put(s, e)
      }
      e
    }
    def found(e: Array[Long], s: String, p: Pattern, idx: Int): Boolean = {
      if (e == null) return Html2Text.found(s, p)
      val bit = 1L << idx
      if ((e(0) & bit) == 0L) {
        e(0) |= bit
        if ((e(2) & bit) != 0L && p.matcher(s).find()) e(1) |= bit
      }
      (e(1) & bit) != 0L
    }
  }

  /** Per-extraction scratch for the classifier's single-pass attribute
    * read: one [[scala.collection.mutable.LinkedHashMap.foreachEntry]]
    * walk with a key switch replaces ~12 hashed `getattr`/`hasattr`
    * lookups per element (each a findEntry walk + Option allocation —
    * together the largest classifier cost by JFR samples). Reused
    * across nodes; reset() before each fill.
    */
  private final class McAttrs {
    var cls: String = ""
    var id: String = ""
    var style: String = ""
    var rel: String = ""
    var itemprop: String = ""
    var role: String = ""
    var ariaHidden: String = null
    var ariaExpanded: String = null
    var hidden = false
    var dataAd = false
    def reset(): Unit = {
      cls = ""; id = ""; style = ""; rel = ""; itemprop = ""; role = ""
      ariaHidden = null; ariaExpanded = null; hidden = false; dataAd = false
    }
    def fill(n: DomNode): Unit = {
      reset()
      val a = n.attrsOrNull
      if (a == null) return
      a.foreachEntry { (k, v) =>
        k match {
          case "class" => cls = v
          case "id" => id = v
          case "style" => style = v
          case "rel" => rel = v
          case "itemprop" => itemprop = v
          case "role" => role = v
          case "aria-hidden" => ariaHidden = v
          case "aria-expanded" => ariaExpanded = v
          case "hidden" => hidden = true
          case "data-ad" | "data-advertisement" | "data-text-ad" => dataAd = true
          case _ =>
        }
      }
    }
  }

  /** Whether a node's text is a single unprintable private-use-area code
    * point or a pilcrow (anchor link / icon font) — html2text.pyx:440-463.
    */
  private def isUnprintablePua(n: DomNode): Boolean = {
    if (n.firstChild != null && (n.firstChild.next != null || !n.firstChild.isText))
      return false
    if (n.firstChild == null && !n.isText) return false
    val t = n.text.trim
    if (t == "¶") return true
    if (t.length == 1) {
      val c = t.charAt(0).toInt
      // BMP private use area U+E000..U+F8FF (the reference checks the
      // UTF-8 byte pattern 0xee8080..0xefa3bf = U+E000..U+E8FF window)
      if (c >= 0xe000 && c <= 0xf8ff) return true
    }
    false
  }

  /** Link-text chars / total chars heuristic (html2text.pyx:498-520),
    * answered from the precomputed per-node stats. Stats are always built
    * on the main-content path (the only caller), so a miss is a walk bug.
    */
  private def isLinkCluster(n: DomNode, maxLinkRatio: Double,
      maxLength: Int): Boolean = {
    val st = n.extractScratch.asInstanceOf[TextStats]
    require(st != null, s"no text stats for <${n.tag}>")
    if (maxLength > 0 && st.clen > maxLength) return false
    st.linkLen > 0 && st.clen > 0 && st.linkLen.toDouble / st.clen > maxLinkRatio
  }

  private def isMainContentNode(n: DomNode, bodyDepth: Int, keepComments: Boolean,
      keepPostMeta: Boolean, keepHidden: Boolean,
      memo: ClsMemo, at: McAttrs): Boolean = {
    if (n.isText) return !isUnprintablePua(n)
    if (!n.isElement) return true

    // — Section 1: tag names —
    n.tag match {
      case "body" | "main" | "h1" => return true
      case "footer" =>
        if (bodyDepth < 3 || isLinkCluster(n, 0.2, 0)) return false
        // keep only if the footer is the recursive last element node of a
        // direct body child (html2text.pyx:556-569)
        var pnode = n
        while (pnode != null && pnode.parent != null && pnode.parent.tag != "body") {
          var cur = pnode
          if (cur.next != null && cur.next.isText) cur = cur.next
          if (cur.next != null) return true
          pnode = pnode.parent
        }
        return false
      case "ul" =>
        if (bodyDepth < 4 || isLinkCluster(n, 0.2, 0)) return false
      case "article" =>
        if (bodyDepth > 2 && isLinkCluster(n, 0.2, 500)) return false
      case "nav" | "aside" | "audio" | "video" | "time" => return false
      case _ =>
    }

    // — Section 2: rel / ARIA attributes —
    at.fill(n) // one attr-map walk replaces the per-attribute lookups
    if (at.hidden) return false
    val rel = at.rel.trim
    if (rel.nonEmpty && BlacklistRels.contains(rel))
      return false
    val itemprop = at.itemprop.trim
    if (itemprop.nonEmpty && BlacklistItemprops.contains(itemprop))
      return false
    if (at.ariaHidden != null && at.ariaHidden.trim == "true") return false
    if (at.ariaExpanded != null && at.ariaExpanded.trim == "false") return false

    // — Section 3: class/id matching —
    val cls = at.cls
    val idAttr = at.id
    if (cls.isEmpty && idAttr.isEmpty) {
      if (n.tag == "div")
        return bodyDepth <= 5 || !isLinkCluster(n, 0.6, 800)
      return true
    }
    // NB: with an empty id this is `cls + " "` — the trailing space is
    // semantically live (it flips `$`-anchored regex alternatives, e.g.
    // adsClsRe's inner `ad$`), so clsAndId always gets its own memo key
    val clsAndId = if (cls.nonEmpty) cls + " " + idAttr else idAttr
    val eCls = memo.entry(cls)
    val eBoth = memo.entry(clsAndId)

    if ((!keepHidden && memo.found(eCls, cls, displayClsRe, 0)) ||
        memo.found(memo.entry(at.style), at.style, displayCssRe, 1)) return false

    if ((n.tag == "a" || n.tag == "div" || n.tag == "li") &&
        memo.found(eBoth, clsAndId, skipLinkClsRe, 2)) return false

    if (bodyDepth > 2) {
      if (memo.found(eCls, cls, signinClsRe, 3)) return false
      if (!keepPostMeta && memo.found(eCls, cls, postMetaClsRe, 4)) return false
      if (memo.found(eCls, cls, socialClsRe, 5)) return false
    }

    if (memo.found(eBoth, clsAndId, logoClsRe, 6)) return false
    if (memo.found(eBoth, clsAndId, adsClsRe, 7) || at.dataAd) return false
    if (memo.found(eCls, cls, otherJunkClsRe, 8)) return false

    // — Section 4: block elements only —
    if (!BlockElements.contains(n.tag) && n.tag != "td") return true

    val role = at.role.trim
    if (rel == "main") return true
    if (role.nonEmpty && BlacklistAriaRoles.contains(role)) return false

    if (memo.found(eBoth, clsAndId, articleClsRe, 9)) return true
    if (memo.found(memo.entry(idAttr), idAttr, landmarkIdRe, 10)) return false
    if (memo.found(eBoth, clsAndId, headerClsRe, 11)) return false
    if (memo.found(eBoth, clsAndId, footerClsRe, 12)) return false
    if (memo.found(eBoth, clsAndId, navClsRe, 13)) return false
    if (memo.found(eBoth, clsAndId, recommendedClsRe, 14)) return false
    if (!keepComments && memo.found(eBoth, clsAndId, commentsClsRe, 15)) return false
    if (memo.found(eBoth, clsAndId, searchClsRe, 16)) return false
    if (memo.found(eBoth, clsAndId, sidebarClsRe, 17)) return false
    if (memo.found(eBoth, clsAndId, modalClsRe, 18)) return false
    if (memo.found(eBoth, clsAndId, galleryClsRe, 19)) return false
    if (memo.found(eBoth, clsAndId, printClsRe, 20)) return false
    if (bodyDepth > 2 && n.tag == "div" && isLinkCluster(n, 0.6, 1500)) return false

    true
  }

  // — string helpers (resiliparse_common/string_util semantics) —

  /** Collapse every whitespace run to a single space (html2text.pyx:110-126). */
  private[html] def collapseWhitespace(s: String): String = {
    if (s.isEmpty) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (HtmlParser.isWs(c)) {
        if (sb.isEmpty || !HtmlParser.isWs(sb.last)) sb.append(' ')
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def escapeHtml(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '"' => sb.append("&quot;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def lstrip(s: String): String = {
    var i = 0
    while (i < s.length && HtmlParser.isWs(s.charAt(i))) i += 1
    s.substring(i)
  }

  private[html] def rstrip(s: String): String = {
    var i = s.length
    while (i > 0 && HtmlParser.isWs(s.charAt(i - 1))) i -= 1
    s.substring(0, i)
  }

  private def rstripInPlace(sb: StringBuilder): Unit = {
    while (sb.nonEmpty && HtmlParser.isWs(sb.last)) sb.setLength(sb.length - 1)
  }
}
