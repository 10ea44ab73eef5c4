package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `.warc.zst` (RFC 8878 + wget/IIPC convention) — write/read round
  * trips, dictionary handling (raw and compressed skippable forms),
  * the zero-decompression member walk, damage isolation, and the
  * streaming-degradation path for frames without a declared content
  * size. Not a reference capability — differential ground truth is the
  * engine's own gzip fixture parse.
  */
class ZstdSpec extends AnyFunSuite {

  private val FixtureGz = graft.sources.BenchCorpus.FixtureGz

  private def fixtureRecords(): Vector[WarcRecord] = {
    val in = new java.io.FileInputStream(FixtureGz)
    try {
      val (s, _) = WarcCodecs.open(in)
      new WarcParser(new WarcByteReader(s), "fx",
        WarcParseOptions(parseHttp = false)).toVector
    } finally in.close()
  }

  private def parseAll(bytes: Array[Byte],
      listener: (Long, Long) => Unit = null): Vector[WarcRecord] = {
    val (s, codec) = WarcCodecs.openTracked(
      new java.io.ByteArrayInputStream(bytes), listener)
    assert(codec == WarcCodecs.Zstd, s"sniffed $codec")
    new WarcParser(new WarcByteReader(s), "zst",
      WarcParseOptions(parseHttp = false)).toVector
  }

  private def recompressToZstd(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val in = new java.io.FileInputStream(FixtureGz)
    try assert(WarcWriter.recompress(in, out, WarcWriter.Zstd) == 50L)
    finally in.close()
    out.toByteArray
  }

  test("round trip: 50 fixture records as frame-per-record zstd, " +
      "sniffed by magic, member offsets fired per frame, point lookup " +
      "seeks straight to a member") {
    val zst = recompressToZstd()
    val ref = fixtureRecords()
    val offsets = Vector.newBuilder[Long]
    val got = parseAll(zst, (c, _) => { offsets += c; () })
    assert(got.size == 50)
    assert(got.map(_.recordId) == ref.map(_.recordId))
    assert(got.map(_.content.toSeq) == ref.map(_.content.toSeq))
    val offs = offsets.result()
    assert(offs.size == 50, s"expected one member per record, got ${offs.size}")
    assert(offs.head == 0L && offs == offs.sorted)
    // seekability: a mid-archive offset starts a decodable frame chain
    val k = 23
    val slice = java.util.Arrays.copyOfRange(zst, offs(k).toInt, zst.length)
    val fromMid = parseAll(slice)
    assert(fromMid.size == 50 - k)
    assert(fromMid.head.recordId == ref(k).recordId)
  }

  test("MemberIndex walks zstd frames by explicit block sizes (no " +
      "decompression) and agrees with the decoder's reported offsets") {
    val zst = recompressToZstd()
    val offsets = Vector.newBuilder[Long]
    parseAll(zst, (c, _) => { offsets += c; () })
    val r = MemberIndex.scan(new java.io.ByteArrayInputStream(zst))
    assert(r.codec == "zstd" && r.isComplete, r.error.toString)
    assert(r.offsets == offsets.result())
  }

  test("trained-dictionary archive: leading skippable dict frame, " +
      "records identical, smaller than dictionary-less, and a preset " +
      "dict decodes a mid-archive slice") {
    val plain = recompressToZstd()
    val out = new java.io.ByteArrayOutputStream()
    val (n, dictLen) = WarcWriter.recompressZstdTrained(
      () => new java.io.FileInputStream(FixtureGz), out)
    assert(n == 50L)
    assert(dictLen.isDefined, "training declined on the 50-record fixture")
    val zst = out.toByteArray
    // leading skippable frame with the dictionary
    assert((zst(0) & 0xf0) == 0x50 && (zst(1) & 0xff) == 0x2a &&
      (zst(2) & 0xff) == 0x4d && (zst(3) & 0xff) == 0x18)
    val dict = ZstdWarc.readDictionary(new java.io.ByteArrayInputStream(zst))
    assert(dict.isDefined && dict.get.length == dictLen.get)
    // the whole point: shared boilerplate lands once
    assert(zst.length < plain.length,
      s"dict archive ${zst.length} not smaller than plain ${plain.length}")
    // full read picks the dict up automatically
    val ref = fixtureRecords()
    val offsets = Vector.newBuilder[Long]
    val got = parseAll(zst, (c, _) => { offsets += c; () })
    assert(got.map(_.recordId) == ref.map(_.recordId))
    assert(got.map(_.content.toSeq) == ref.map(_.content.toSeq))
    val offs = offsets.result()
    assert(offs.size == 50 && offs.head > 0L,
      "first member must start past the dict frame")
    // a mid-archive slice decodes ONLY with the preset dictionary
    val k = 40
    val slice = java.util.Arrays.copyOfRange(zst, offs(k).toInt, zst.length)
    val withDict = new WarcParser(new WarcByteReader(
      new ZstdFrameInputStream(new java.io.ByteArrayInputStream(slice),
        presetDict = dict.get)), "slice", WarcParseOptions(parseHttp = false)).toVector
    assert(withDict.map(_.recordId) == ref.drop(k).map(_.recordId))
    val reader = new WarcByteReader(
      new ZstdFrameInputStream(new java.io.ByteArrayInputStream(slice)))
    val withoutDict = new WarcParser(reader, "slice",
      WarcParseOptions(parseHttp = false)).toVector
    assert(withoutDict.size < 50 - k || reader.streamError.isDefined,
      "dict-less decode of a dict slice must not silently succeed")
  }

  test("point lookup seeks into a trained-dict archive (head dictionary " +
      "probed before the seek)") {
    val dir = java.nio.file.Files.createTempDirectory("zstd-lookup")
    val f = dir.resolve("dicted.warc.zst")
    val out = new java.io.FileOutputStream(f.toFile)
    val (_, dictLen) = try WarcWriter.recompressZstdTrained(
      () => new java.io.FileInputStream(FixtureGz), out)
    finally out.close()
    assume(dictLen.isDefined)
    val ref = fixtureRecords()
    val offsets = Vector.newBuilder[Long]
    val bytes = java.nio.file.Files.readAllBytes(f)
    parseAll(bytes, (c, _) => { offsets += c; () })
    val offs = offsets.result()
    Seq(0, 17, 49).foreach { k =>
      val rec = WarcPointLookup.extract(f.toString, offs(k),
        WarcParseOptions(parseHttp = false))
      assert(rec.isDefined, s"member $k")
      assert(rec.get.recordId == ref(k).recordId, s"member $k")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("wget's compressed-dictionary skippable form decodes too") {
    val out = new java.io.ByteArrayOutputStream()
    val (_, dictLen) = WarcWriter.recompressZstdTrained(
      () => new java.io.FileInputStream(FixtureGz), out)
    assume(dictLen.isDefined)
    val zst = out.toByteArray
    val rawDict = ZstdWarc.readDictionary(
      new java.io.ByteArrayInputStream(zst)).get
    // rebuild the archive with the dict frame holding a COMPRESSED dict
    val compDict = com.github.luben.zstd.Zstd.compress(rawDict)
    val sizeOfRawFrame = 8 + rawDict.length
    val rebuilt = new java.io.ByteArrayOutputStream()
    val hdr = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0x184D2A5D).putInt(compDict.length).array()
    rebuilt.write(hdr)
    rebuilt.write(compDict)
    rebuilt.write(zst, sizeOfRawFrame, zst.length - sizeOfRawFrame)
    val got = parseAll(rebuilt.toByteArray)
    assert(got.size == 50)
    assert(got.map(_.recordId) == fixtureRecords().map(_.recordId))
  }

  test("streaming-written frames (no declared content size) decode " +
      "through the degradation path, byte-exact") {
    // ZstdOutputStream writes FCS-less frames (size unknown up front)
    val payload = recompressToZstd() // any deterministic bytes
    val raw = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(raw)
    z.write(payload); z.close()
    val zin = new ZstdFrameInputStream(
      new java.io.ByteArrayInputStream(raw.toByteArray))
    val back = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 << 10)
    var n = zin.read(buf)
    while (n >= 0) { back.write(buf, 0, n); n = zin.read(buf) }
    zin.close()
    assert(java.util.Arrays.equals(back.toByteArray, payload))
  }

  test("decompression-bomb guard: a frame DECLARING more than the " +
      "one-shot cap degrades to the streaming path instead of " +
      "allocating the declared size, and still decodes byte-exact") {
    // ~300 MB of zeros declared in ONE frame header (compresses to ~KBs)
    val n = (ZstdWarc.MaxOneShotContent + (8 << 20)).toInt
    val zeros = new Array[Byte](n)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3); ctx.setContentSize(true)
    val frame = ctx.compress(zeros)
    ctx.close()
    assert(com.github.luben.zstd.Zstd.getFrameContentSize(frame) == n.toLong)
    val zin = new ZstdFrameInputStream(new java.io.ByteArrayInputStream(frame))
    val buf = new Array[Byte](1 << 20)
    var total = 0L
    var r = zin.read(buf)
    while (r >= 0) {
      var i = 0
      while (i < r) { assert(buf(i) == 0); i += 1 }
      total += r
      r = zin.read(buf)
    }
    zin.close()
    assert(total == n.toLong)
  }

  test("differential fuzz: 40 random mixed-frame archives (one-shot, " +
      "no-content-size streaming frames, skippable padding) decode " +
      "byte-identically to the reference continuous decoder") {
    val rnd = new scala.util.Random(41)
    (1 to 40).foreach { iter =>
      val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val expect = new java.io.ByteArrayOutputStream()
      val archive = new java.io.ByteArrayOutputStream()
      val nFrames = 1 + rnd.nextInt(6)
      (0 until nFrames).foreach { _ =>
        val payload = new Array[Byte](rnd.nextInt(200 * 1024))
        rnd.nextBytes(payload)
        // half the payloads compressible
        if (rnd.nextBoolean())
          java.util.Arrays.fill(payload, 0, payload.length / 2, 7.toByte)
        expect.write(payload)
        rnd.nextInt(3) match {
          case 0 => // one-shot frame with declared content size
            val c = new com.github.luben.zstd.ZstdCompressCtx()
            c.setLevel(1 + rnd.nextInt(5)); c.setContentSize(true)
            archive.write(c.compress(payload)); c.close()
          case 1 => // streaming frame, no declared size
            val b = new java.io.ByteArrayOutputStream()
            val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(b)
            z.write(payload); z.close()
            archive.write(b.toByteArray)
          case _ => // skippable padding before a sized frame
            val pad = new Array[Byte](rnd.nextInt(64))
            val hdr = java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              .putInt(ZstdWarc.SkippableMin | rnd.nextInt(16))
              .putInt(pad.length).array()
            archive.write(hdr); archive.write(pad)
            val c = new com.github.luben.zstd.ZstdCompressCtx()
            c.setContentSize(true)
            archive.write(c.compress(payload)); c.close()
        }
      }
      val bytes = archive.toByteArray
      val mine = {
        val z = new ZstdFrameInputStream(new java.io.ByteArrayInputStream(bytes))
        val o = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 << 10)
        var r = z.read(buf)
        while (r >= 0) { o.write(buf, 0, r); r = z.read(buf) }
        z.close(); o.toByteArray
      }
      assert(java.util.Arrays.equals(mine, expect.toByteArray),
        s"iter $iter: ${mine.length} vs ${expect.size} bytes")
    }
  }

  test("damage isolation: a corrupted frame body costs its frame, " +
      "not the archive (stream error surfaces, prefix records survive)") {
    val zst = recompressToZstd()
    val offsets = Vector.newBuilder[Long]
    parseAll(zst, (c, _) => { offsets += c; () })
    val offs = offsets.result()
    val mangled = java.util.Arrays.copyOf(zst, zst.length)
    // flip a byte well inside member 30's compressed body
    val p = offs(30).toInt + 20
    mangled(p) = (mangled(p) ^ 0x5a).toByte
    val reader = new WarcByteReader(new ZstdFrameInputStream(
      new java.io.ByteArrayInputStream(mangled)))
    val got = new WarcParser(reader, "dmg",
      WarcParseOptions(parseHttp = false)).toVector
    assert(got.size == 30, s"prefix records before the damage: ${got.size}")
    assert(reader.streamError.isDefined, "corruption must surface, not EOF")
  }

  test("truncated archive surfaces a stream error, never silent EOF") {
    val zst = recompressToZstd()
    val reader = new WarcByteReader(new ZstdFrameInputStream(
      new java.io.ByteArrayInputStream(zst, 0, zst.length - 37)))
    val got = new WarcParser(reader, "trunc",
      WarcParseOptions(parseHttp = false)).toVector
    assert(got.size < 50)
    assert(reader.streamError.isDefined)
  }

  test("mixed-size reads are byte-exact across the direct-to-caller / " +
      "outBuf boundary (r15 zero-copy path)") {
    // the reader decompresses a frame STRAIGHT into the caller's buffer
    // when the declared content fits (big reads), and stages through
    // outBuf otherwise (small reads) — a read sequence that alternates
    // regimes mid-frame must still produce the exact stream
    val zst = recompressToZstd()
    val expect = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new ZstdFrameInputStream(new java.io.ByteArrayInputStream(zst))
      val b = new Array[Byte](1 << 20)
      var n = z.read(b)
      while (n >= 0) { out.write(b, 0, n); n = z.read(b) }
      z.close()
      out.toByteArray
    }
    val rnd = new scala.util.Random(4242)
    (1 to 5).foreach { iter =>
      val z = new ZstdFrameInputStream(new java.io.ByteArrayInputStream(zst))
      val out = new java.io.ByteArrayOutputStream()
      var n = 0
      while (n >= 0) {
        // sizes straddle typical frame sizes: 1 B (outBuf), a few
        // hundred (outBuf), 8-64 KiB (direct for most frames)
        val size = rnd.nextInt(4) match {
          case 0 => 1
          case 1 => 1 + rnd.nextInt(500)
          case 2 => 8 * 1024 + rnd.nextInt(8 * 1024)
          case _ => 64 * 1024
        }
        val b = new Array[Byte](size)
        n = z.read(b, 0, size)
        if (n > 0) out.write(b, 0, n)
      }
      z.close()
      assert(java.util.Arrays.equals(out.toByteArray, expect), s"iter $iter")
    }
  }

  test("truncated FCS-less streaming frame (degraded decode path) " +
      "surfaces a stream error too, never silent clean EOF") {
    // an FCS-less frame forces the reader onto the degraded streaming
    // path; a cut mid-frame there must raise like the one-shot path
    // does (continuous mode would return clean EOF and silently drop
    // every record after the cut)
    val payload = recompressToZstd()
    val raw = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(raw)
    z.write(payload); z.close()
    val whole = raw.toByteArray
    val cut = whole.length - whole.length / 3
    val reader = new WarcByteReader(new ZstdFrameInputStream(
      new java.io.ByteArrayInputStream(whole, 0, cut)))
    val got = new WarcParser(reader, "truncfcs",
      WarcParseOptions(parseHttp = false)).toVector
    assert(got.size < 50)
    assert(reader.streamError.isDefined,
      "mid-frame truncation on the degraded path must surface, not EOF")
  }
}
