package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import org.scalatest.funsuite.AnyFunSuite

/** The from-scratch multi-member gzip decoder behind every gzip WARC
  * scan: byte-exact decode vs commons-compress, one-pass member-offset
  * emission (== the MemberIndex walk), trailer verification, and
  * corruption surfacing as IOException (the scan's error-row contract).
  */
class GzipMemberStreamSpec extends AnyFunSuite {

  private val foreignGz = graft.sources.BenchCorpus.FixtureGz
  private def foreignBytes =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(foreignGz))

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = 0
    while ({ n = in.read(buf); n >= 0 }) out.write(buf, 0, n)
    in.close()
    out.toByteArray
  }

  test("decodes the 50-member foreign archive byte-identically to " +
      "commons-compress and emits the same offsets as MemberIndex.scan") {
    val bytes = foreignBytes
    val reference = drain(
      org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream.builder()
        .setInputStream(new ByteArrayInputStream(bytes))
        .setDecompressConcatenated(true).get())
    val offsets = Vector.newBuilder[Long]
    val ours = drain(new GzipMemberInputStream(
      new ByteArrayInputStream(bytes), (c, _) => offsets += c))
    assert(java.util.Arrays.equals(ours, reference))
    val walked = MemberIndex.scan(new ByteArrayInputStream(bytes))
    assert(offsets.result() == walked.offsets)
    assert(walked.offsets.size == 50)
  }

  test("single-byte read() path decodes identically to bulk reads") {
    val bytes = foreignBytes
    val bulk = drain(new GzipMemberInputStream(new ByteArrayInputStream(bytes)))
    val in = new GzipMemberInputStream(new ByteArrayInputStream(bytes))
    val out = new ByteArrayOutputStream()
    var b = 0
    while ({ b = in.read(); b >= 0 }) out.write(b)
    assert(java.util.Arrays.equals(out.toByteArray, bulk))
  }

  test("FNAME/FCOMMENT/FEXTRA header fields are skipped, not decoded") {
    val params = new org.apache.commons.compress.compressors.gzip.GzipParameters()
    params.setFileName("payload.warc")
    params.setComment("a comment the decoder must skip")
    val payload = ("WARC/1.1\r\nWARC-Type: resource\r\n\r\n" * 20).getBytes("UTF-8")
    val bos = new ByteArrayOutputStream()
    val gz = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bos, params)
    gz.write(payload); gz.close()
    val offsets = Vector.newBuilder[Long]
    val decoded = drain(new GzipMemberInputStream(
      new ByteArrayInputStream(bos.toByteArray), (c, _) => offsets += c))
    assert(java.util.Arrays.equals(decoded, payload))
    assert(offsets.result() == Vector(0L))
  }

  test("an empty member between real members decodes through with its " +
      "offset reported") {
    def member(data: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(data); gz.close()
      bos.toByteArray
    }
    val a = member("alpha".getBytes); val e = member(Array.emptyByteArray)
    val b = member("beta".getBytes)
    val all = a ++ e ++ b
    val pairs = Vector.newBuilder[(Long, Long)]
    val decoded = drain(new GzipMemberInputStream(
      new ByteArrayInputStream(all), (c, d) => pairs += ((c, d))))
    assert(new String(decoded, "UTF-8") == "alphabeta")
    // compressed member starts AND the decompressed position each
    // member's output begins at (the member-indexed scan's rebase map)
    assert(pairs.result() == Vector(
      (0L, 0L), (a.length.toLong, 5L), ((a.length + e.length).toLong, 5L)))
  }

  test("a corrupted deflate body surfaces as IOException naming the member") {
    val bytes = foreignBytes
    val offs = MemberIndex.scan(new ByteArrayInputStream(bytes)).offsets
    val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
    // flip a byte well inside member 10's deflate body
    mangled(offs(10).toInt + 40) = (mangled(offs(10).toInt + 40) ^ 0x55).toByte
    val ex = intercept[IOException] {
      drain(new GzipMemberInputStream(new ByteArrayInputStream(mangled)))
    }
    assert(ex.getMessage.contains("gzip"), ex.getMessage)
  }

  test("a truncated final member surfaces as IOException, after yielding " +
      "the complete members before it") {
    val bytes = foreignBytes
    val cut = new ByteArrayInputStream(bytes, 0, bytes.length - 500)
    val in = new GzipMemberInputStream(cut)
    val ex = intercept[IOException] { drain(in) }
    assert(ex.getMessage.contains("truncated") || ex.getMessage.contains("corrupt"),
      ex.getMessage)
  }

  test("garbage between members surfaces as IOException (bad magic)") {
    val bytes = foreignBytes
    val offs = MemberIndex.scan(new ByteArrayInputStream(bytes)).offsets
    val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
    mangled(offs(10).toInt) = 'X'.toByte
    val ex = intercept[IOException] {
      drain(new GzipMemberInputStream(new ByteArrayInputStream(mangled)))
    }
    assert(ex.getMessage.contains("bad magic") || ex.getMessage.contains("garbage"),
      ex.getMessage)
  }

  test("a flipped trailer CRC32 is caught even though the deflate stream " +
      "itself decodes") {
    val payload = "0123456789" * 100
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload.getBytes("UTF-8")); gz.close()
    val bytes = bos.toByteArray
    // trailer = last 8 bytes: CRC32(4) + ISIZE(4)
    bytes(bytes.length - 8) = (bytes(bytes.length - 8) ^ 0x01).toByte
    val ex = intercept[IOException] {
      drain(new GzipMemberInputStream(new ByteArrayInputStream(bytes)))
    }
    assert(ex.getMessage.contains("CRC32 mismatch"), ex.getMessage)
  }

  test("differential fuzz: 200 random multi-member archives decode " +
      "byte-identically to commons-compress with MemberIndex-exact offsets") {
    val rnd = new scala.util.Random(12345)
    for (iter <- 0 until 200) {
      val nMembers = 1 + rnd.nextInt(8)
      val payloads = (0 until nMembers).map { _ =>
        val n = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(64)            // tiny (incl. empty)
          case 1 => rnd.nextInt(4096)          // small
          case _ => 4096 + rnd.nextInt(50000)  // multi-window
        }
        val b = new Array[Byte](n)
        if (rnd.nextBoolean()) rnd.nextBytes(b) // incompressible
        else { var i = 0; while (i < n) { b(i) = (i % 7 + 'a').toByte; i += 1 } }
        b
      }
      val bos = new ByteArrayOutputStream()
      payloads.foreach { p =>
        val params = new org.apache.commons.compress.compressors.gzip.GzipParameters()
        if (rnd.nextBoolean()) params.setFileName(s"f${rnd.nextInt(1000)}.bin")
        if (rnd.nextBoolean()) params.setComment("c" * rnd.nextInt(40))
        params.setCompressionLevel(1 + rnd.nextInt(9))
        val gz = new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(bos, params)
        gz.write(p); gz.close()
      }
      val bytes = bos.toByteArray
      val pairs = Vector.newBuilder[(Long, Long)]
      val ours = drain(new GzipMemberInputStream(
        new ByteArrayInputStream(bytes), (c, d) => pairs += ((c, d))))
      assert(java.util.Arrays.equals(ours, payloads.flatten.toArray),
        s"iter $iter: decode mismatch")
      val got = pairs.result()
      assert(got.map(_._1) == MemberIndex.scan(
        new ByteArrayInputStream(bytes)).offsets, s"iter $iter: offsets")
      // decompressed coordinates = cumulative payload sizes
      val cum = payloads.map(_.length.toLong).scanLeft(0L)(_ + _).init
      assert(got.map(_._2) == cum, s"iter $iter: decompressed starts")
    }
  }

  test("truncation fuzz: 200 random cuts either yield a clean payload " +
      "prefix (cut at a member boundary) or raise IOException — never " +
      "wrong bytes, never a non-IO throwable") {
    val bytes = foreignBytes
    val full = drain(new GzipMemberInputStream(new ByteArrayInputStream(bytes)))
    val boundaries = MemberIndex.scan(new ByteArrayInputStream(bytes))
      .offsets.toSet + bytes.length.toLong
    val rnd = new scala.util.Random(54321)
    for (_ <- 0 until 200) {
      val cut = 1 + rnd.nextInt(bytes.length - 1)
      val out = new ByteArrayOutputStream()
      val in = new GzipMemberInputStream(new ByteArrayInputStream(bytes, 0, cut))
      val threw = try {
        val buf = new Array[Byte](8192)
        var n = 0
        while ({ n = in.read(buf); n >= 0 }) out.write(buf, 0, n)
        false
      } catch { case _: IOException => true }
      val decoded = out.toByteArray
      // whatever was emitted must be a prefix of the true payload
      assert(java.util.Arrays.equals(decoded,
        java.util.Arrays.copyOf(full, decoded.length)),
        s"cut $cut emitted wrong bytes")
      if (!threw)
        assert(boundaries.contains(cut.toLong),
          s"cut $cut inside a member completed without error")
    }
  }

  test("LZ4 frame decoder reports data-frame offsets matching MemberIndex " +
      "(skippable frames excluded)") {
    val out = new ByteArrayOutputStream()
    Seq("first frame payload", "second frame payload", "third").foreach { s =>
      val fz = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(out)
      fz.write(s.getBytes("UTF-8")); fz.finish()
    }
    val lz4Bytes = out.toByteArray
    val walked = MemberIndex.scan(new ByteArrayInputStream(lz4Bytes))
    assert(walked.codec == "lz4" && walked.offsets.size == 3)
    val offsets = Vector.newBuilder[Long]
    val decoded = drain(new Lz4FrameInputStream(
      new ByteArrayInputStream(lz4Bytes), (c, _) => offsets += c))
    assert(new String(decoded, "UTF-8") ==
      "first frame payloadsecond frame payloadthird")
    assert(offsets.result() == walked.offsets)
  }
}
