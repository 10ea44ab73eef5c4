package graft.core

import java.io.FileInputStream
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-driven parser tests mirroring the reference's own suite
  * (tests/fastwarc/test_warc.py — iteration :25-60, offsets :145,
  * type filters :184, digests :296-366, clipped :600-620,
  * clueweb quirks :830-858) over the fixture set in BenchCorpus.FixtureDir.
  */
class WarcParserSpec extends AnyFunSuite {

  private val DataDir = graft.sources.BenchCorpus.FixtureDir

  private def parse(file: String,
      opts: WarcParseOptions = WarcParseOptions()): Vector[WarcRecord] = {
    val (in, _) = WarcCodecs.open(new FileInputStream(s"$DataDir/$file"))
    try new WarcParser(new WarcByteReader(in), file, opts).toVector
    finally in.close()
  }

  test("iterates 50 records with unique urn record ids in all three codecs") {
    for (f <- Seq("warcfile.warc", "warcfile.warc.gz", "warcfile.warc.lz4")) {
      val recs = parse(f)
      assert(recs.size == 50, f)
      val ids = recs.flatMap(_.recordId)
      assert(ids.size == 50)
      assert(ids.distinct.size == 50)
      assert(ids.forall(_.startsWith("<urn:")))
      assert(recs.forall(r => Set("warcinfo", "response", "request", "metadata")(r.recordType)))
    }
  }

  test("record type histogram matches the fixture ground truth") {
    val byType = parse("warcfile.warc").groupBy(_.recordType).view.mapValues(_.size).toMap
    assert(byType == Map("warcinfo" -> 1, "request" -> 17, "response" -> 16, "metadata" -> 16))
  }

  test("stream offsets are monotone and match a re-read from raw bytes") {
    val recs = parse("warcfile.warc")
    assert(recs.head.offset == 0L)
    assert(recs.map(_.offset) == recs.map(_.offset).sorted)
    assert(recs(1).offset == 764L && recs(2).offset == 1428L)
    // gzip decompressed offsets equal raw-file offsets
    assert(parse("warcfile.warc.gz").map(_.offset) == recs.map(_.offset))
  }

  test("record-type bitmask filter skips without parsing payloads") {
    val opts = WarcParseOptions(recordTypeMask = RecordType.Response)
    val recs = parse("warcfile.warc.gz", opts)
    assert(recs.size == 16)
    assert(recs.forall(_.recordType == "response"))
  }

  test("content-length bounds filter") {
    val opts = WarcParseOptions(minContentLength = 20000)
    val recs = parse("warcfile.warc", opts)
    assert(recs.forall(_.contentLength >= 20000))
    assert(recs.size == 8)
  }

  test("always_keep_meta keeps the envelope of over-long records") {
    val opts = WarcParseOptions(maxContentLength = 1000, keepMetaOverMax = true)
    val recs = parse("warcfile.warc", opts)
    assert(recs.size == 50)
    val dropped = recs.filter(_.error.exists(_.contains("max_content_length")))
    assert(dropped.nonEmpty)
    assert(dropped.forall(_.content.isEmpty))
    assert(dropped.forall(_.contentLength > 1000))
  }

  test("block and payload digests verify on all digest-bearing records") {
    val recs = parse("warcfile.warc.gz")
    val block = recs.flatMap(_.blockDigestOk)
    val payload = recs.flatMap(_.payloadDigestOk)
    assert(block.size == 16 && block.forall(identity))
    assert(payload.size == 16 && payload.forall(identity))
  }

  test("http parse yields status/content-type on responses") {
    val recs = parse("warcfile.warc").filter(_.recordType == "response")
    assert(recs.forall(_.http.isDefined))
    assert(recs.forall(_.http.flatMap(_.status).contains(200)))
    assert(recs.forall(_.http.flatMap(_.contentType).contains("text/html")))
  }

  test("parse_http=false leaves payload unsplit") {
    val recs = parse("warcfile.warc", WarcParseOptions(parseHttp = false))
    assert(recs.forall(_.http.isEmpty))
    assert(recs.filter(_.recordType == "response").forall(_.content.nonEmpty))
  }

  test("envelope-only scan (readPayload=false) keeps lengths, drops bytes") {
    val recs = parse("warcfile.warc.gz", WarcParseOptions(readPayload = false, parseHttp = false))
    assert(recs.size == 50)
    assert(recs.forall(_.content.isEmpty))
    assert(recs.map(_.contentLength).sum == 527846L)
  }

  test("clipped archive surfaces a truncated-record error, no exception") {
    val recs = parse("clipped.warc.gz")
    assert(recs.nonEmpty)
    assert(recs.last.error.exists(_.contains("truncated")))
    assert(recs.init.forall(_.error.isEmpty))
  }

  test("clueweb quirks: legacy version lines and LF-only HTTP headers") {
    // reference pins (test_warc.py:830-858): 30 records, all with ids,
    // strictly increasing offsets
    val recs = parse("clueweb-quirk.warc.gz")
    assert(recs.size == 30)
    assert(recs.flatMap(_.recordId).distinct.size == 30)
    val offsets = recs.map(_.offset)
    assert(offsets == offsets.sorted && offsets.distinct.size == 30)
    assert(recs.forall(_.version == "WARC/0.18")) // legacy ClueWeb09
    assert(recs.count(_.error.isDefined) == 0)
    // INTENTIONAL divergence: the reference's HTTP parser requires CRLF
    // and yields http_content_type=None on these LF-only headers; ours
    // tolerates LF and recovers 29 content types — strictly more data.
    assert(recs.flatMap(_.http.flatMap(_.contentType)).size == 29)
    // strict mode drops the legacy version lines entirely
    assert(parse("clueweb-quirk.warc.gz", WarcParseOptions(strict = true)).isEmpty)
  }

  test("block-sized records aligned to the reader buffer parse cleanly") {
    for (f <- Seq("block-sized-records.warc", "block-sized-records.warc.gz",
                  "block-sized-records.warc.lz4")) {
      val recs = parse(f)
      assert(recs.nonEmpty, f)
      assert(recs.forall(_.error.isEmpty), f)
      // same stream through a pathologically tiny buffer: identical result
      val (in, _) = WarcCodecs.open(new FileInputStream(s"$DataDir/$f"))
      val tiny = try new WarcParser(new WarcByteReader(in, bufSize = 17), f,
        WarcParseOptions()).toVector finally in.close()
      assert(tiny.map(_.offset) == recs.map(_.offset), f)
      assert(tiny.map(_.contentLength) == recs.map(_.contentLength), f)
    }
  }

  test("warc dates parse as ISO-8601 instants") {
    val recs = parse("warcfile.warc")
    assert(recs.forall(_.recordDate.isDefined))
    assert(recs.head.recordDate.get.toString == "2020-08-08T16:54:17Z")
  }

  test("warc date fast path agrees with Instant.parse, valid and malformed") {
    def ref(s: String) = scala.util.Try(java.time.Instant.parse(s.trim)).toOption
      .orElse(scala.util.Try(java.time.OffsetDateTime.parse(s.trim,
        java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME).toInstant).toOption)
    val cases = Seq(
      "2020-08-08T16:54:17Z", "1970-01-01T00:00:00Z", "2068-12-31T23:59:59Z",
      "2020-02-29T12:00:00Z", "2021-02-29T12:00:00Z", // leap / non-leap
      "2020-13-01T00:00:00Z", "2020-00-10T00:00:00Z", "2020-01-32T00:00:00Z",
      "2020-01-01T24:00:00Z", "2020-01-01T00:60:00Z", "2020-01-01T00:00:60Z",
      "2020-08-08T16:54:17.123Z", "2020-08-08T16:54:17+02:00", // slow-path shapes
      "2020-08-08 16:54:17Z", "garbage", "  2020-08-08T16:54:17Z  ",
      "2O20-08-08T16:54:17Z") // letter O, not zero
    cases.foreach { s =>
      assert(WarcParser.parseWarcDate(s) == ref(s), s"input: '$s'")
    }
    val rnd = new java.util.Random(42)
    for (_ <- 1 to 2000) {
      val s = f"${rnd.nextInt(3000)}%04d-${rnd.nextInt(14)}%02d-${rnd.nextInt(33)}%02d" +
        f"T${rnd.nextInt(25)}%02d:${rnd.nextInt(61)}%02d:${rnd.nextInt(61)}%02dZ"
      assert(WarcParser.parseWarcDate(s) == ref(s), s"input: '$s'")
    }
  }

  test("http dates parse in all three RFC 9110 forms") {
    // IMF-fixdate, obsolete RFC-850, obsolete asctime — recipients MUST
    // accept all three; the reference's parsedate_to_datetime does
    val want = java.time.Instant.parse("1994-11-06T08:49:37Z")
    assert(WarcParser.parseHttpDate("Sun, 06 Nov 1994 08:49:37 GMT").contains(want))
    assert(WarcParser.parseHttpDate("Sunday, 06-Nov-94 08:49:37 GMT").contains(want))
    assert(WarcParser.parseHttpDate("Sun Nov  6 08:49:37 1994").contains(want))
    // two-digit RFC-850 years use the email.utils pivot: yy>68 -> 1900s,
    // else 2000s (so '69' is 1969 and '68' is 2068, matching the
    // reference's parsedate_to_datetime exactly)
    assert(WarcParser.parseHttpDate("Thursday, 06-Jan-05 08:49:37 GMT")
      .contains(java.time.Instant.parse("2005-01-06T08:49:37Z")))
    assert(WarcParser.parseHttpDate("Wednesday, 01-Jan-69 00:00:00 GMT")
      .contains(java.time.Instant.parse("1969-01-01T00:00:00Z")))
    assert(WarcParser.parseHttpDate("Sunday, 01-Jan-68 00:00:00 GMT")
      .contains(java.time.Instant.parse("2068-01-01T00:00:00Z")))
    assert(WarcParser.parseHttpDate("not a date").isEmpty)
    assert(WarcParser.parseHttpDate("").isEmpty)
  }
}
