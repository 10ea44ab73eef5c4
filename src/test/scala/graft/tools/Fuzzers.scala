package graft.tools

import java.nio.file.{Files, Paths}

/* Fuzz and robustness mains (test scope), longer-running than the
 * specs: `sbt "Test/runMain graft.tools.<Name> [args]"`. */

/** Dev harness (test scope): decode every vector in /tmp/brotli_vectors
  * (written by the reference C encoder via brotlicffi) and compare with
  * the raw plaintext. Run: sbt "Test/runMain graft.tools.BrotliFuzz"
  */
object BrotliFuzz {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(if (args.nonEmpty) args(0) else "/tmp/brotli_vectors")
    val vecs = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".br")).sorted
    var pass = 0
    var fail = 0
    vecs.foreach { brPath =>
      val raw = Files.readAllBytes(Paths.get(brPath.stripSuffix(".br") + ".raw"))
      try {
        val dec = graft.core.Brotli.decode(Files.readAllBytes(Paths.get(brPath)))
        if (java.util.Arrays.equals(dec, raw)) pass += 1
        else {
          fail += 1
          val diff = dec.zip(raw).indexWhere { case (a, b) => a != b }
          println(s"MISMATCH $brPath declen=${dec.length} rawlen=${raw.length} firstDiff=$diff")
        }
      } catch {
        case e: Throwable =>
          fail += 1
          println(s"ERROR $brPath: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"pass=$pass fail=$fail")
    if (fail > 0) sys.exit(1)
  }
}

/** Dev: truncation/garbage robustness — every prefix and bit-flip must
  * throw (or return wrong data), never hang or OOM.
  */
object BrotliTrunc {
  def main(args: Array[String]): Unit = {
    val full = Files.readAllBytes(Paths.get("/tmp/brotli_vectors/0100.br"))
    var threw = 0
    var ok = 0
    (0 until full.length).foreach { n =>
      try {
        graft.core.Brotli.decode(java.util.Arrays.copyOf(full, n), maxOutput = 10 << 20)
        ok += 1
      } catch { case _: Exception => threw += 1 }
    }
    println(s"prefixes: threw=$threw completed=$ok of ${full.length}")
    val rnd = new scala.util.Random(5)
    var flipThrew = 0
    var flipOk = 0
    (0 until 500).foreach { _ =>
      val b = full.clone()
      b(rnd.nextInt(b.length)) = (b(rnd.nextInt(b.length)) ^ (1 << rnd.nextInt(8))).toByte
      try { graft.core.Brotli.decode(b, maxOutput = 10 << 20); flipOk += 1 }
      catch { case _: Exception => flipThrew += 1 }
    }
    println(s"bitflips: threw=$flipThrew completed=$flipOk of 500")
  }
}

/** Dev: Brotli decoder corruption fuzz — same contract as Lz4Fuzz:
  * mutations of a valid stream decode cleanly or throw IOException
  * (BrotliException extends it); anything else is a robustness bug.
  */
object BrotliFuzzCorrupt {
  def main(args: Array[String]): Unit = {
    val total = if (args.nonEmpty) args(0).toInt else 100000
    val rnd = new java.util.Random(0xb70711)
    val valid = Files.readAllBytes(
      Paths.get(graft.sources.BenchCorpus.FixtureDir, "warcfile.warc.br"))
    var ok = 0L; var ioex = 0L
    var i = 0
    while (i < total) {
      val bytes = java.util.Arrays.copyOf(valid, valid.length)
      var mutated = bytes
      val nMut = 1 + rnd.nextInt(8)
      for (_ <- 0 until nMut) rnd.nextInt(3) match {
        case 0 => val at = rnd.nextInt(mutated.length)
                  mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
        case 1 => mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        case 2 => mutated = java.util.Arrays.copyOf(mutated, 1 + rnd.nextInt(mutated.length))
      }
      try {
        val in = new graft.core.BrotliInputStream(
          new java.io.ByteArrayInputStream(mutated), maxOutput = 64L << 20)
        val buf = new Array[Byte](32 * 1024)
        var out = 0L
        var n = in.read(buf)
        while (n >= 0 && out < (64L << 20)) { out += n; n = in.read(buf) }
        ok += 1
      } catch {
        case _: java.io.IOException => ioex += 1
        case e: Throwable =>
          println(s"BAD THROWABLE ${e.getClass.getName}: ${e.getMessage} at iter $i")
          java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/brfuzz_fail.bin"), mutated)
          sys.exit(1)
      }
      i += 1
    }
    println(s"OK: $total mutated streams — $ok decoded, $ioex IOException")
  }
}

/** Dev: LZ4 decoder corruption fuzz — random mutations of valid frames
  * must decode cleanly or throw IOException; any other throwable (index
  * errors, negative-size allocations) is a robustness bug.
  */
object Lz4Fuzz {
  def main(args: Array[String]): Unit = {
    val total = if (args.nonEmpty) args(0).toInt else 100000
    val rnd = new java.util.Random(0xfeed5)
    // base corpus: linked + independent frames over mixed payloads
    val bases = {
      val payloadA = ("lorem ipsum dolor sit amet " * 2000).getBytes
      val payloadB = new Array[Byte](80 * 1024); rnd.nextBytes(payloadB)
      for {
        p <- Seq(payloadA, payloadB)
        linked <- Seq(true, false)
        cck <- Seq(true, false)
      } yield {
        val o = new java.io.ByteArrayOutputStream()
        val w = new graft.core.Lz4FrameOutputStream(o, linked = linked, contentChecksum = cck)
        w.write(p); w.close(); o.toByteArray
      }
    }
    var ok = 0L; var ioex = 0L
    var i = 0
    while (i < total) {
      val base = bases(rnd.nextInt(bases.length))
      val bytes = java.util.Arrays.copyOf(base, base.length)
      // 1-8 random mutations: bit flips, byte sets, truncation
      val nMut = 1 + rnd.nextInt(8)
      var truncated = bytes
      for (_ <- 0 until nMut) rnd.nextInt(3) match {
        case 0 => val at = rnd.nextInt(truncated.length)
                  truncated(at) = (truncated(at) ^ (1 << rnd.nextInt(8))).toByte
        case 1 => truncated(rnd.nextInt(truncated.length)) = rnd.nextInt(256).toByte
        case 2 => truncated = java.util.Arrays.copyOf(truncated, 1 + rnd.nextInt(truncated.length))
      }
      try {
        val in = new graft.core.Lz4FrameInputStream(new java.io.ByteArrayInputStream(truncated))
        val buf = new Array[Byte](32 * 1024)
        var total2 = 0L
        var n = in.read(buf)
        while (n >= 0 && total2 < (64L << 20)) { total2 += n; n = in.read(buf) }
        if (total2 >= (64L << 20)) { println(s"RUNAWAY OUTPUT at iter $i"); sys.exit(1) }
        ok += 1
      } catch {
        case _: java.io.IOException => ioex += 1
        case e: Throwable =>
          println(s"BAD THROWABLE ${e.getClass.getName}: ${e.getMessage} at iter $i")
          java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/lz4fuzz_fail.bin"), truncated)
          sys.exit(1)
      }
      i += 1
    }
    println(s"OK: $total mutated frames — $ok decoded, $ioex IOException, 0 bad throwables")
  }
}

/** Dev: WARC parser corruption fuzz — mutations of the raw fixture must
  * parse to completion (error rows / resync), never throw.
  */
object WarcFuzz {
  def main(args: Array[String]): Unit = {
    val total = if (args.nonEmpty) args(0).toInt else 50000
    val rnd = new java.util.Random(0x0a6c)
    val valid = Files.readAllBytes(Paths.get(graft.sources.BenchCorpus.FixtureRaw))
    var i = 0
    var records = 0L; var errors = 0L
    while (i < total) {
      val bytes = java.util.Arrays.copyOf(valid, valid.length)
      var mutated = bytes
      val nMut = 1 + rnd.nextInt(12)
      for (_ <- 0 until nMut) rnd.nextInt(3) match {
        case 0 => val at = rnd.nextInt(mutated.length)
                  mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
        case 1 => mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        case 2 => mutated = java.util.Arrays.copyOf(mutated, 1 + rnd.nextInt(mutated.length))
      }
      try {
        val p = new graft.core.WarcParser(
          new graft.core.WarcByteReader(new java.io.ByteArrayInputStream(mutated)),
          "fuzz", graft.core.WarcParseOptions(parseHttp = true))
        while (p.hasNext) {
          val r = p.next()
          records += 1
          if (r.error.isDefined) errors += 1
        }
      } catch {
        case e: Throwable =>
          println(s"PARSER THREW ${e.getClass.getName}: ${e.getMessage} at iter $i")
          java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/warcfuzz_fail.bin"), mutated)
          sys.exit(1)
      }
      i += 1
    }
    println(s"OK: $total mutated archives, $records records parsed, $errors error rows, 0 throws")
  }
}

/** Dev: randomized writer round-trip fuzz — arbitrary payloads
  * (including embedded fake record boundaries and header-injection
  * attempts in extra headers) written through the member-per-record
  * writer under all three codecs must re-parse to the same records,
  * with verified digests and zero error rows. Closes the loop the
  * structured WarcWriteSpec fixtures can't: the writer's framing
  * (Content-Length governs, sanitization strips CR/LF) must hold for
  * ANY payload bytes.
  */
object WriterFuzz {
  def main(args: Array[String]): Unit = {
    val total = if (args.nonEmpty) args(0).toInt else 3000
    val rnd = new java.util.Random(0x3117)
    val types = Array("response", "request", "metadata", "resource",
      "conversion", "warcinfo")
    var records = 0L
    for (iter <- 0 until total) {
      val n = 1 + rnd.nextInt(8)
      val recs = (0 until n).map { i =>
        val len = rnd.nextInt(4) match {
          case 0 => 0
          case 1 => rnd.nextInt(32)
          case 2 => rnd.nextInt(4096)
          case _ => 65536 + rnd.nextInt(65536)
        }
        val payload = new Array[Byte](len)
        rnd.nextBytes(payload)
        val fake = "\r\n\r\nWARC/1.1\r\nWARC-Type: response\r\n".getBytes("US-ASCII")
        if (len > fake.length + 1 && rnd.nextBoolean())
          System.arraycopy(fake, 0, payload, rnd.nextInt(len - fake.length), fake.length)
        val extra = if (rnd.nextBoolean())
          Seq("X-Fuzz" -> "v\r\nInjected-Header: x", "X-Fuzz2" -> "plain") else Nil
        graft.core.WarcWriter.buildRecord(types(rnd.nextInt(types.length)), payload,
          targetUri = Some(s"http://f.example/$iter/$i"), extraHeaders = extra)
      }
      for (codec <- Seq[graft.core.WarcWriter.Codec](
          graft.core.WarcWriter.Raw, graft.core.WarcWriter.Gzip,
          graft.core.WarcWriter.Lz4)) {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new graft.core.WarcWriter.RecordStreamWriter(bos, codec, checksum = true)
        recs.foreach(w.write)
        w.close()
        val (in, _) = graft.core.WarcCodecs.open(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        val p = new graft.core.WarcParser(new graft.core.WarcByteReader(in), "fuzz",
          graft.core.WarcParseOptions(parseHttp = false))
        val back = p.toVector
        require(back.length == recs.length,
          s"iter $iter codec $codec: wrote ${recs.length}, read ${back.length}")
        back.zip(recs).foreach { case (b, orig) =>
          require(b.error.isEmpty, s"iter $iter codec $codec error row: ${b.error}")
          require(b.recordId == orig.recordId, s"iter $iter codec $codec id mismatch")
          require(java.util.Arrays.equals(b.content, orig.content),
            s"iter $iter codec $codec content mismatch (${orig.content.length} bytes)")
          require(b.blockDigestOk.contains(true),
            s"iter $iter codec $codec digest not verified: ${b.blockDigestOk}")
          // header-injection attempt must have been sanitized, not framed
          require(!b.headers.get("Injected-Header").isDefined,
            s"iter $iter codec $codec: CR/LF header injection survived")
        }
        records += back.length
      }
    }
    println(s"OK: $total archives x 3 codecs, $records records round-tripped, 0 mismatches")
  }
}

/** Dev: extended stream/DOM differential fuzz — far past the suite's
  * 4000-soup budget. Prints the first divergence and exits nonzero.
  */
object FuzzLong {
  def main(args: Array[String]): Unit = {
    val total = if (args.nonEmpty) args(0).toInt else 200000
    val seed0 = if (args.length > 1) args(1).toLong else 0x5eed0L
    val optionSets = Seq(
      graft.html.Html2Text.Options(),
      graft.html.Html2Text.Options(formatting = graft.html.Html2Text.FormatOff),
      graft.html.Html2Text.Options(links = true, formFields = true),
      graft.html.Html2Text.Options(altTexts = false, listBullets = false))
    val fuzz = new graft.html.HtmlFuzzAccess
    var i = 0
    var bails = 0
    val t0 = System.nanoTime()
    while (i < total) {
      val rnd = new java.util.Random(seed0 + i / 1000) // rotate seeds
      val html = fuzz.gen(rnd, if (i % 10 == 0) 150 else 40)
      optionSets.foreach { o =>
        val dom = graft.html.Html2Text.extract(graft.html.HtmlTree.parse(html), o)
        val streamed = graft.html.Html2TextStream.extract(html, o)
        if (streamed != dom) {
          println(s"DIVERGENCE at iter $i opts=$o\n--IN--\n$html\n--DOM--\n$dom\n--STREAM--\n$streamed")
          sys.exit(1)
        }
      }
      i += 1
      if (i % 20000 == 0) println(f"  $i soups ok (${(System.nanoTime() - t0) / 1e9}%.0f s)")
    }
    println(s"OK: $total soups x 4 option sets, no divergence (${(System.nanoTime()-t0)/1e9} s)")
  }
}
