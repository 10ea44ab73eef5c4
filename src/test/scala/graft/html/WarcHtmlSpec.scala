package graft.html

import java.io.FileInputStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Real-world end-to-end: decode + parse every response record of the
  * fixture corpus (the reference's test_real_world_data,
  * tests/resiliparse/parse/test_html.py:515-530).
  */
class WarcHtmlSpec extends AnyFunSuite {

  private def responses: Vector[WarcRecord] = {
    val (in, _) = WarcCodecs.open(
      new FileInputStream(graft.sources.BenchCorpus.FixtureRaw))
    try new WarcParser(new WarcByteReader(in), "warcfile",
      WarcParseOptions(recordTypeMask = RecordType.Response)).toVector
    finally in.close()
  }

  test("all 16 response records parse into complete documents") {
    var count = 0
    responses.foreach { rec =>
      val body = rec.http.get.body
      val charset = rec.http.flatMap(_.charset).orNull
      val tree = HtmlTree.parseFromBytes(body, charset)
      assert(tree.document != null)
      assert(tree.head != null)
      assert(tree.body != null)
      assert(tree.title.nonEmpty, rec.targetUri)
      assert(tree.head.matches("style, link"), rec.targetUri)
      assert(tree.body.matches("div"), rec.targetUri)
      count += 1
    }
    assert(count == 16)
  }
}
