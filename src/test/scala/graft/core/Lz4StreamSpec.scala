package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileInputStream}

/** The from-scratch LZ4 frame decoder against reference streams:
  * byte-identical to commons-compress on the dependent-block fixtures,
  * and round-trips what our own frame writer produces.
  */
class Lz4StreamSpec extends AnyFunSuite {

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](32 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private def commonsDecode(bytes: Array[Byte]): Array[Byte] =
    drain(new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream(
      new ByteArrayInputStream(bytes), true))

  private val fixtures = Seq(
    graft.sources.BenchCorpus.FixtureLz4,
    s"${graft.sources.BenchCorpus.FixtureDir}/block-sized-records.warc.lz4")

  test("byte-identical to commons-compress on dependent-block fixtures") {
    for (f <- fixtures) {
      val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      val ours = drain(new Lz4FrameInputStream(new ByteArrayInputStream(raw)))
      val theirs = commonsDecode(raw)
      assert(ours.length == theirs.length, s"$f length")
      assert(java.util.Arrays.equals(ours, theirs), s"$f content")
    }
  }

  test("concatenated frames decode as one stream") {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtures.head))
    val doubled = raw ++ raw
    val ours = drain(new Lz4FrameInputStream(new ByteArrayInputStream(doubled)))
    val one = commonsDecode(raw)
    assert(ours.length == 2 * one.length)
    assert(java.util.Arrays.equals(ours.take(one.length), one))
    assert(java.util.Arrays.equals(ours.drop(one.length), one))
  }

  test("truncation at a block boundary is detected when the frame " +
      "declares a content checksum") {
    val body = new Array[Byte](200 * 1024)
    new scala.util.Random(7).nextBytes(body)
    val bos = new ByteArrayOutputStream()
    val w = new Lz4FrameOutputStream(bos) // contentChecksum = true
    w.write(body); w.close()
    val full = bos.toByteArray
    // with a content checksum the frame ends EndMark(4) + checksum(4):
    // cutting those 8 bytes leaves EOF exactly at a block boundary —
    // previously accepted as clean end, now an IOException
    val truncated = full.dropRight(8)
    val e = intercept[java.io.IOException] {
      drain(new Lz4FrameInputStream(new ByteArrayInputStream(truncated)))
    }
    assert(e.getMessage.contains("EndMark missing"), e.getMessage)
    // control: the intact frame still decodes
    assert(drain(new Lz4FrameInputStream(
      new ByteArrayInputStream(full))).length == body.length)
  }

  test("corrupted frame descriptor is rejected by the HC header checksum") {
    val bos = new ByteArrayOutputStream()
    val w = new Lz4FrameOutputStream(bos)
    w.write("hello lz4 header".getBytes("ascii")); w.close()
    val bytes = bos.toByteArray
    // BD byte is at offset 5 (magic 4 + FLG 1); flip its block-size code
    // within the valid range (64K code 4 -> 256K code 5) so only the HC
    // check can catch it
    val corrupted = bytes.clone()
    corrupted(5) = (0x05 << 4).toByte
    val e = intercept[java.io.IOException] {
      drain(new Lz4FrameInputStream(new ByteArrayInputStream(corrupted)))
    }
    assert(e.getMessage.contains("header checksum"), e.getMessage)
  }

  test("round-trips our own writer's frames (independent blocks)") {
    val src = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureGz))
    val recompressed = new ByteArrayOutputStream()
    WarcWriter.recompress(new ByteArrayInputStream(src), recompressed, WarcWriter.Lz4)
    val bytes = recompressed.toByteArray
    val ours = drain(new Lz4FrameInputStream(new ByteArrayInputStream(bytes)))
    val theirs = commonsDecode(bytes)
    assert(java.util.Arrays.equals(ours, theirs))
  }

  test("skippable frames are skipped") {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtures.head))
    val skippable = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val ours = drain(new Lz4FrameInputStream(
      new ByteArrayInputStream(skippable ++ raw)))
    assert(java.util.Arrays.equals(ours, commonsDecode(raw)))
  }

  test("WarcCodecs.open routes lz4 through the native decoder") {
    val (in, codec) = WarcCodecs.open(new FileInputStream(fixtures.head))
    try {
      assert(codec == WarcCodecs.Lz4)
      assert(in.isInstanceOf[Lz4FrameInputStream])
    } finally in.close()
  }

  test("round-trips every writer flag combination (property)") {
    import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
    import FramedLZ4CompressorOutputStream.{BlockSize, Parameters}
    val rnd = new scala.util.Random(42)
    // payload mix: high-entropy, highly repetitive (long matches,
    // cross-block back-references under dependency), and empty
    val payloads = Seq(
      Array.emptyByteArray,
      Array.fill(100)(rnd.nextInt().toByte),
      Array.fill(300 * 1024)(rnd.nextInt().toByte),
      ("abcdefgh" * (100 * 1024)).getBytes, // 800 KB of period-8 text
      (0 until 200 * 1024).map(i => (i % 7).toByte).toArray)
    for {
      payload <- payloads
      bs <- Seq(BlockSize.K64, BlockSize.M1)
      contentCk <- Seq(true, false)
      blockCk <- Seq(true, false)
      dependent <- Seq(true, false)
    } {
      val out = new ByteArrayOutputStream()
      val w = new FramedLZ4CompressorOutputStream(out,
        new Parameters(bs, contentCk, blockCk, dependent))
      w.write(payload); w.close()
      val ours = drain(new Lz4FrameInputStream(
        new ByteArrayInputStream(out.toByteArray)))
      assert(java.util.Arrays.equals(ours, payload),
        s"len=${payload.length} bs=$bs cck=$contentCk bck=$blockCk dep=$dependent")
    }
  }

  test("Lz4FrameOutputStream round-trips through BOTH readers, linked and independent") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.emptyByteArray,
      "hello".getBytes,
      Array.fill(100)(rnd.nextInt().toByte),
      Array.fill(500 * 1024)(rnd.nextInt().toByte),          // incompressible, multi-block
      ("the quick brown fox " * (40 * 1024)).getBytes,        // 800 KB, cross-block matches
      (0 until 300 * 1024).map(i => (i % 251).toByte).toArray, // period-251 runs
      java.nio.file.Files.readAllBytes(                       // real mixed content
        java.nio.file.Paths.get(graft.sources.BenchCorpus.FixtureRaw)))
    for {
      payload <- payloads
      linked <- Seq(true, false)
      cck <- Seq(true, false)
    } {
      val out = new ByteArrayOutputStream()
      val w = new Lz4FrameOutputStream(out, linked = linked, contentChecksum = cck)
      // exercise both write paths: chunked array writes + some single bytes
      var off = 0
      while (off < payload.length) {
        val n = math.min(17 * 1024 + 13, payload.length - off)
        w.write(payload, off, n)
        off += n
      }
      w.close()
      val bytes = out.toByteArray
      val ours = drain(new Lz4FrameInputStream(new ByteArrayInputStream(bytes)))
      assert(java.util.Arrays.equals(ours, payload),
        s"our reader: len=${payload.length} linked=$linked cck=$cck")
      val theirs = commonsDecode(bytes)
      assert(java.util.Arrays.equals(theirs, payload),
        s"commons reader: len=${payload.length} linked=$linked cck=$cck")
    }
  }

  test("writer round-trips at every standard block size") {
    val rnd = new scala.util.Random(11)
    val payload = new Array[Byte](3 * 1024 * 1024) // forces multiple blocks at 1M
    rnd.nextBytes(payload)
    // make half compressible so both block paths (compressed + stored) run
    java.util.Arrays.fill(payload, payload.length / 2, payload.length, 'x'.toByte)
    for (bs <- Seq(64 * 1024, 256 * 1024, 1024 * 1024, 4 * 1024 * 1024)) {
      val out = new ByteArrayOutputStream()
      val w = new Lz4FrameOutputStream(out, blockSize = bs)
      w.write(payload); w.close()
      val bytes = out.toByteArray
      assert(java.util.Arrays.equals(
        drain(new Lz4FrameInputStream(new ByteArrayInputStream(bytes))), payload), s"ours bs=$bs")
      assert(java.util.Arrays.equals(commonsDecode(bytes), payload), s"commons bs=$bs")
    }
  }

  test("linked mode compresses cross-block repetition better than independent") {
    val payload = ("boilerplate header and nav " * (30 * 1024)).getBytes // ~810 KB
    def sizeOf(linked: Boolean): Int = {
      val out = new ByteArrayOutputStream()
      val w = new Lz4FrameOutputStream(out, linked = linked)
      w.write(payload); w.close()
      out.size()
    }
    val (l, ind) = (sizeOf(true), sizeOf(false))
    assert(l < ind, s"linked=$l independent=$ind")
  }

  test("corrupted block surfaces IOException, not garbage") {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtures.head)).clone()
    // flip bytes inside the first data block (past the 7-byte header)
    raw(40) = (raw(40) ^ 0xff).toByte
    raw(41) = (raw(41) ^ 0xff).toByte
    intercept[java.io.IOException] {
      drain(new Lz4FrameInputStream(new ByteArrayInputStream(raw)))
    }
  }
}
