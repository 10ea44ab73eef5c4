package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream}
import org.scalatest.funsuite.AnyFunSuite

/** warc_retry resume semantics, TimeGuard containment, point lookup by
  * offset, and the C-header profile dump.
  */
class RobustnessSpec extends AnyFunSuite {

  private val fixtureBytes =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureRaw))

  /** Dies with IOException after serving `failAt` bytes (once per
    * instance); a fresh instance serves from the start.
    */
  private class FlakyStream(data: Array[Byte], failAt: Long) extends InputStream {
    private var pos = 0
    override def read(): Int = throw new UnsupportedOperationException
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= failAt) throw new IOException("simulated stream failure")
      if (pos >= data.length) return -1
      val n = math.min(len, math.min(data.length - pos, (failAt - pos).toInt))
      System.arraycopy(data, pos, b, off, n)
      pos += n
      n
    }
  }

  test("warc_retry resumes after mid-scan stream failures without dup/loss") {
    // every attempt dies 100KB further in; 6 failures then a clean run
    var attempt = 0
    val it = WarcRetry.iterator(() => {
      attempt += 1
      if (attempt <= 6) new FlakyStream(fixtureBytes, attempt * 100000L)
      else new ByteArrayInputStream(fixtureBytes)
    }, "flaky", maxRetries = 10)
    val recs = it.toVector
    assert(recs.size == 50)
    val ids = recs.flatMap(_.recordId)
    assert(ids.distinct.size == 50) // no duplicates from resume
    assert(recs.count(_.error.isDefined) == 0)
  }

  test("warc_retry gives up after maxRetries and surfaces the truncation") {
    val it = WarcRetry.iterator(
      () => new FlakyStream(fixtureBytes, 100000L), "dead", maxRetries = 2)
    val recs = it.toVector
    assert(recs.size < 50)
    assert(recs.nonEmpty)
    // the give-up is VISIBLE: the stream died and retries are spent, so
    // the tail record must carry an error (truncated-record or the
    // exhausted-retries terminal row) — never a silent short archive
    assert(recs.last.error.isDefined, recs.last)
  }

  test("warc_retry: stream death BETWEEN records with retries exhausted " +
      "surfaces a terminal error record, not silent truncation") {
    // find a record boundary: parse the fixture and take a mid-archive
    // record's end position as the kill point — the parser exhausts
    // cleanly there, so only the streamError distinguishes truncation
    // from end-of-archive
    val probe = WarcRetry.iterator(
      () => new java.io.ByteArrayInputStream(fixtureBytes), "probe")
    val boundary = {
      var pos = 0L
      var n = 0
      val (in, _) = WarcCodecs.open(new java.io.ByteArrayInputStream(fixtureBytes))
      val rd = new WarcByteReader(in)
      val p = new WarcParser(rd, "probe", WarcParseOptions(parseHttp = false))
      while (p.hasNext && n < 10) { p.next(); n += 1; pos = rd.position }
      pos
    }
    assert(probe.size == 50) // sanity: the probe itself sees the full archive
    val it = WarcRetry.iterator(
      () => new FlakyStream(fixtureBytes, boundary), "dead",
      maxRetries = 0)
    val recs = it.toVector
    assert(recs.count(_.error.isEmpty) == 10) // the records before the kill
    assert(recs.last.error.exists(_.contains("stream error after 0 retries")),
      recs.last.error)
  }

  test("warc_retry: resume attempts that cannot reach the skip-forward " +
      "point burn retries and surface a terminal error, never silence") {
    // first attempt dies mid-archive; every reopen serves a CLEAN-short
    // stream that ends before the resume point (no IOException), the
    // hardest case to see — a silent short archive would be invisible
    var attempt = 0
    val it = WarcRetry.iterator(() => {
      attempt += 1
      if (attempt == 1) new FlakyStream(fixtureBytes, 100000L)
      else new java.io.ByteArrayInputStream(fixtureBytes, 0, 20000)
    }, "dead", maxRetries = 2)
    val recs = it.toVector
    assert(recs.count(_.error.isEmpty) < 50)
    assert(recs.last.error.exists(_.contains("after 2 retries")), recs.last.error)
    assert(attempt == 3) // the original + both retries were attempted
  }

  test("warc_retry: a factory that THROWS on reopen burns a retry and " +
      "the scan still completes once a good stream comes up") {
    // the reference counts stream_factory exceptions toward retry_count
    // (itertools.pyx) — connection refused on reopen must not escape the
    // retry loop and fail the task
    var attempt = 0
    val it = WarcRetry.iterator(() => {
      attempt += 1
      attempt match {
        case 1 => new FlakyStream(fixtureBytes, 100000L)
        case 2 => throw new IOException("connection refused")
        case _ => new ByteArrayInputStream(fixtureBytes)
      }
    }, "flaky-factory", maxRetries = 5)
    val recs = it.toVector
    assert(recs.size == 50)
    assert(recs.count(_.error.isDefined) == 0)
    assert(attempt == 3)
  }

  test("warc_retry: a factory that ALWAYS throws (even on first open) " +
      "exhausts retries and surfaces the exception, never a crash") {
    val it = WarcRetry.iterator(
      () => throw new IOException("connection refused"),
      "dead-factory", maxRetries = 2)
    val recs = it.toVector
    assert(recs.size == 1)
    assert(recs.head.error.exists(e =>
      e.contains("after 2 retries") && e.contains("connection refused")), recs.head.error)
  }

  test("time guard interrupts a runaway kernel, passes a fast one") {
    val fast = TimeGuard.timeLimited(5000) { 21 * 2 }
    assert(fast == Right(42))
    val t0 = System.nanoTime()
    val slow = TimeGuard.timeLimited(200) {
      // interruptible busy loop (every kernel is single-pass/bounded;
      // sleep stands in for a pathological document)
      Thread.sleep(10000)
      "never"
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(slow.isLeft)
    assert(elapsedMs < 5000)
    val err = TimeGuard.timeLimited(1000) { throw new RuntimeException("boom") }
    assert(err.swap.exists(_.contains("boom")))
  }

  test("progress_loop semantics: steady progress is never interrupted, " +
      "a stalled element still is") {
    // 20 items x 40ms = 800ms total work under a 150ms PER-ITEM budget:
    // total >> budget, but every heartbeat re-arms the guard
    val steady = TimeGuard.progressLoop((0 until 20).iterator, 150) { _ =>
      Thread.sleep(40)
    }
    assert(steady == Right(20L))
    // one element stalls past the budget -> interrupted, loop reports it
    var processed = 0
    val t0 = System.nanoTime()
    val stalled = TimeGuard.progressLoop((0 until 20).iterator, 150) { i =>
      if (i == 3) Thread.sleep(10000) else processed += 1
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(stalled.isLeft && stalled.swap.exists(_.contains("stalled")))
    assert(processed == 3 && elapsedMs < 5000)
    // kernel exceptions surface as the error value, not a throw
    val err = TimeGuard.timeLimitedWithProgress(1000) { _ =>
      throw new RuntimeException("boom")
    }
    assert(err.swap.exists(_.contains("boom")))
  }

  test("point lookup extracts single records by writer-reported offsets") {
    // write 5 records as gzip members, remembering each member offset
    val (in, _) = WarcCodecs.open(new ByteArrayInputStream(fixtureBytes))
    val recs = new WarcParser(new WarcByteReader(in), "m", WarcParseOptions()).take(5).toVector
    val tmp = java.nio.file.Files.createTempFile("lookup", ".warc.gz")
    val out = java.nio.file.Files.newOutputStream(tmp)
    val w = new WarcWriter.RecordStreamWriter(out, WarcWriter.Gzip)
    val offsets = recs.map(w.write)
    w.close()
    assert(offsets.head == 0L && offsets == offsets.sorted && offsets.distinct.size == 5)
    // each offset seeks straight to its record — no scan-through
    recs.zip(offsets).foreach { case (orig, off) =>
      val got = WarcPointLookup.extract(tmp.toString, off)
      assert(got.isDefined, off)
      assert(got.get.recordId == orig.recordId)
      assert(got.get.contentLength == orig.contentLength)
    }
    java.nio.file.Files.delete(tmp)
  }

  test("mem guard: a DOM bomb yields a budget breach, not an OOM") {
    // small-ish input that fans out into ~200k DOM nodes (repeated table
    // rows) — the class of document whose object-overhead amplification
    // the reference MemGuard bounds (process_guard.pyx:184-533)
    val bomb = "<table>" + "<tr><td>x</td><td>y</td></tr>" * 33000
    val budget = 10000
    // DOM parse path breaches deterministically
    val e = intercept[MemGuardException] {
      graft.html.HtmlTree.parse(bomb, maxNodes = budget)
    }
    assert(e.getMessage.contains("mem guard"))
    // the streaming extract path is bounded by the same budget option
    val e2 = intercept[MemGuardException] {
      graft.html.Html2Text.extractFromHtml(bomb,
        graft.html.Html2Text.Options(maxNodes = budget))
    }
    assert(e2.getMessage.contains("mem guard"))
    // unbudgeted parses of normal documents are unchanged
    val normal = "<html><body><p>hello <b>world</b></p></body></html>"
    assert(graft.html.Html2Text.extractFromHtml(normal,
      graft.html.Html2Text.Options()).contains("hello world"))
  }

  test("allocation guard: a giant-text-node record breaches, a normal one passes") {
    // one text node: passes ANY node budget (it is a single node), but
    // its expansion (decode + node buffer + serialize) allocates far
    // beyond the record budget — the class the reference's RSS watchdog
    // bounds and the node counter cannot (process_guard.pyx:184-533)
    val giant = "<html><body><p>" + ("lorem ipsum dolor sit amet " * 400000) + "</p></body></html>"
    val res = MemGuard.allocationLimited(maxBytes = 4L << 20, sampleMillis = 1) {
      graft.html.Html2Text.extractFromHtml(giant,
        graft.html.Html2Text.Options(maxNodes = 100)) // node budget NOT the trigger
    }
    assert(res.isLeft, s"expected allocation breach, got $res")
    assert(res.swap.exists(_.contains("mem guard: allocation budget")))
    // interrupt flag must not leak into the caller
    assert(!Thread.currentThread().isInterrupted)
    // a normal record under the same budget completes
    val ok = MemGuard.allocationLimited(maxBytes = 64L << 20, sampleMillis = 1) {
      graft.html.Html2Text.extractFromHtml(
        "<html><body><p>hello <b>world</b></p></body></html>",
        graft.html.Html2Text.Options())
    }
    assert(ok.exists(_.contains("hello world")))
  }

  test("trained vectors dump as a C header") {
    val header = LangDetect.toCHeader(Seq(
      "xx" -> Array.tabulate(256)(_ % 7),
      "yy" -> Array.fill(256)(1)))
    assert(header.contains("#define LANG_VEC_SIZE 256"))
    assert(header.contains("{\"xx\", {0, 1, 2"))
    assert(header.contains("{\"yy\", {1, 1"))
    assert(header.contains("static const lang_t LANGS[]"))
  }
}
