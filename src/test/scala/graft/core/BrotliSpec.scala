package graft.core

import java.io.ByteArrayInputStream
import org.scalatest.funsuite.AnyFunSuite

/** Brotli decoder spec. Fixture vectors under src/test/resources/graft
  * were produced by the reference C encoder (brotlicffi) at assorted
  * qualities; the bulk cross-validation lives in the dev fuzz harness
  * (tools/BrotliFuzz over 360+ encoder-generated vectors).
  */
class BrotliSpec extends AnyFunSuite {

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing $name")
    try in.readAllBytes() finally in.close()
  }

  private val vectors = Seq(
    "brotli_q0_text", // uncompressed-ish fast quality
    "brotli_q5_rand", // incompressible bytes
    "brotli_q9_utf8", // UTF-8 context modeling + window copies
    "brotli_q11_text") // dictionary words + transforms + context maps

  vectors.foreach { v =>
    test(s"decodes encoder vector $v") {
      assert(Brotli.decode(res(s"$v.br")) sameElements res(s"$v.raw"))
    }
  }

  test("empty stream decodes to empty output") {
    // ISLAST + ISLASTEMPTY in one byte (the canonical empty stream `;`)
    assert(Brotli.decode(Array[Byte](0x3b)).isEmpty)
  }

  test("metadata meta-blocks are skipped (MSKIPLEN is value + 1)") {
    // hand-crafted, validated against the reference C decoder; the skip
    // field encodes MSKIPLEN - 1, an off-by-one the encoder-generated
    // fuzz corpus never exercises (encoders rarely emit metadata)
    val skip0 = Array[Byte](0x0c, 0x03) // MSKIPBYTES=0: skip nothing
    assert(Brotli.decode(skip0).isEmpty)
    val skip1 = Array(0x2c, 0x00, 0xaa, 0x03).map(_.toByte) // skip 1 byte
    assert(Brotli.decode(skip1).isEmpty)
    // MSKIPBYTES=2, field 0x01FF -> skip 512 bytes
    val skip512 = Array[Byte](0xcc.toByte, 0xff.toByte, 0x00) ++
      Array.fill[Byte](512)(0x77) :+ 0x03.toByte
    assert(Brotli.decode(skip512).isEmpty)
  }

  test("streaming reads in small chunks match one-shot decode") {
    val expected = res("brotli_q11_text.raw")
    val in = new BrotliInputStream(new ByteArrayInputStream(res("brotli_q11_text.br")))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](7) // forces many resume points
    var n = in.read(buf, 0, buf.length)
    while (n >= 0) {
      out.write(buf, 0, n)
      n = in.read(buf, 0, buf.length)
    }
    assert(out.toByteArray sameElements expected)
  }

  test("output cap throws instead of ballooning (bomb guard)") {
    val e = intercept[Brotli.BrotliException] {
      Brotli.decode(res("brotli_q11_text.br"), maxOutput = 100)
    }
    assert(e.getMessage.contains("cap"))
  }

  test("truncated stream throws or yields a plaintext prefix, never hangs") {
    // no checksum in the format: a cut that only removes padding bits can
    // still be a complete stream, so "throws" can't be asserted for every
    // prefix — but decoded output must never be wrong data
    val full = res("brotli_q11_text.br")
    val expected = res("brotli_q11_text.raw")
    (1 until full.length).foreach { n =>
      try {
        val out = Brotli.decode(java.util.Arrays.copyOf(full, n))
        assert(java.util.Arrays.equals(out, java.util.Arrays.copyOf(expected, out.length)),
          s"prefix $n produced non-prefix output")
      } catch { case _: Exception => () }
    }
  }

  test("truncation before uncompressed/metadata payloads never fabricates data") {
    // the BitReader tolerates one virtual zero pad byte at EOF so final
    // meta-block FLAG bits can complete; a truncation must never let that
    // synthetic 0x00 be served as DATA (uncompressed copy / skip field)
    val payload = "abcd".getBytes("ascii")
    // WBITS=16, ISLAST=0, MNIBBLES=4, MLEN-1=3, ISUNCOMPRESSED, align,
    // 4 raw bytes, then the final empty meta-block
    val uncompressed = Array[Byte](0x30, 0x00, 0x10) ++ payload :+ 0x03.toByte
    assert(Brotli.decode(uncompressed) sameElements payload)
    // metadata block skipping 1 byte, then final empty meta-block
    val metadata = Array(0x2c, 0x00, 0xaa, 0x03).map(_.toByte)
    Seq(uncompressed -> payload, metadata -> Array.empty[Byte]).foreach {
      case (full, expected) =>
        (1 until full.length).foreach { n =>
          try {
            val out = Brotli.decode(java.util.Arrays.copyOf(full, n))
            assert(java.util.Arrays.equals(out, java.util.Arrays.copyOf(expected, out.length)),
              s"prefix $n fabricated output")
          } catch { case _: Exception => () }
        }
    }
  }

  test("garbage input throws") {
    intercept[Exception] { Brotli.decode(Array.fill[Byte](64)(0x55)) }
  }

  test("decodeBody handles Content-Encoding: br end to end") {
    val body = "brotli body payload. " * 45
    val comp = java.util.Base64.getDecoder.decode(
      "G7ADAMRtbF3Han6lEwRGdIoKo5pVra8Lcj6G32YGAA==")
    val d = HttpDecode.decodeBody(comp, Some("br"), None)
    assert(d.failed.isEmpty)
    assert(d.applied == Seq("br"))
    assert(new String(d.body, "ascii") == body)
  }

  test("decodeBody caps brotli output with a distinct label") {
    val comp = java.util.Base64.getDecoder.decode(
      "G7ADAMRtbF3Han6lEwRGdIoKo5pVra8Lcj6G32YGAA==")
    val d = HttpDecode.decodeBody(comp, Some("br"), None, maxDecoded = 50)
    assert(d.failed.contains("max-decoded-length: br"))
  }

  test("scans a .warc.br archive through the warc codec layer") {
    // whole fixture archive, brotli-compressed by the reference encoder
    val f = s"${graft.sources.BenchCorpus.FixtureDir}/warcfile.warc.br"
    val (stream, codec) = WarcCodecs.openWithName(new java.io.FileInputStream(f), f)
    assert(codec == WarcCodecs.Br)
    val records = new WarcParser(new WarcByteReader(stream), f).toVector
    assert(records.size == 50)
    assert(records.count(_.recordType == "response") == 16)
    assert(records.forall(_.error.isEmpty))
  }
}
