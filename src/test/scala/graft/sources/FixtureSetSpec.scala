package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{WarcByteReader, WarcParseOptions, WarcParser}

/** The fixture set BenchCorpus derives from the in-repo brotli archive:
  * the decode checks, the container layout of each codec copy, and the
  * quirk each crafted file exists to carry. The decoders used here are
  * independent of the engine's (java.util.zip, commons-compress).
  */
class FixtureSetSpec extends AnyFunSuite {
  import BenchCorpus.{FixtureDir, ReaderBlock}

  private def bytes(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(FixtureDir, name))

  private lazy val raw = bytes("warcfile.warc")

  /** Walk a gzip member chain with a bare Inflater: (decoded members,
    * whether the last member ended before the input did). */
  private def gzipMembers(gz: Array[Byte]): (Vector[Array[Byte]], Boolean) = {
    var pos = 0
    var members = Vector.empty[Array[Byte]]
    var complete = true
    while (complete && pos < gz.length) {
      assert(gz(pos) == 0x1f.toByte && gz(pos + 1) == 0x8b.toByte && gz(pos + 3) == 0,
        s"plain gzip member header at $pos")
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(gz, pos + 10, gz.length - pos - 10)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = 1
      while (!inf.finished() && n > 0) {
        n = inf.inflate(buf)
        out.write(buf, 0, n)
      }
      complete = inf.finished()
      if (complete) {
        pos += 10 + inf.getBytesRead.toInt + 8
        members :+= out.toByteArray
      }
      inf.end()
    }
    (members, complete)
  }

  private def commonsLz4(lz4: Array[Byte]): Array[Byte] =
    new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream(
      new ByteArrayInputStream(lz4), true).readAllBytes()

  /** Per frame: (FLG byte, number of data blocks). */
  private def lz4Frames(lz4: Array[Byte]): Vector[(Int, Int)] = {
    def le32(at: Int): Int = (0 until 4).map(i => (lz4(at + i) & 0xff) << (8 * i)).sum
    var pos = 0
    var frames = Vector.empty[(Int, Int)]
    while (pos < lz4.length) {
      assert(le32(pos) == 0x184D2204, s"LZ4 frame magic at $pos")
      val flg = lz4(pos + 4) & 0xff
      pos += 4 + 3 + (if ((flg & 0x08) != 0) 8 else 0)
      var blocks = 0
      var size = le32(pos)
      while (size != 0) {
        pos += 4 + (size & 0x7fffffff) + (if ((flg & 0x10) != 0) 4 else 0)
        blocks += 1
        size = le32(pos)
      }
      pos += 4 + (if ((flg & 0x04) != 0) 4 else 0)
      frames :+= ((flg, blocks))
    }
    frames
  }

  private def records(data: Array[Byte]) =
    new WarcParser(new WarcByteReader(new ByteArrayInputStream(data)), "",
      WarcParseOptions(parseHttp = false)).toVector

  test("the decoded archive has the published shape, and anything else fails loudly") {
    assert(raw.length == 550336)
    val recs = BenchCorpus.checkedRecords(raw)
    assert(recs.size == 50)
    assert(recs.count(_.recordType == "response") == 16)
    assert(bytes("warcfile.warc.br").length == 92111)
    for (bad <- Seq(raw.take(raw.length - 1), raw ++ Array[Byte](0x0a),
        // same length, one record's version line broken: 49 records
        new String(raw, ISO_8859_1).replaceFirst("WARC/1.0\r\nWARC-Type: request",
          "WARX/1.0\r\nWARC-Type: request").getBytes(ISO_8859_1))) {
      val e = intercept[IllegalStateException](BenchCorpus.checkedRecords(bad))
      assert(e.getMessage.contains("warcfile.warc.br"), e.getMessage)
    }
  }

  test(".gz is one level-9 member per record and decodes byte-identical") {
    val gz = bytes("warcfile.warc.gz")
    assert(gz.length == 135896) // the reference file's size
    val (members, complete) = gzipMembers(gz)
    assert(complete)
    assert(members.size == 50)
    assert(java.util.Arrays.equals(members.reduce(_ ++ _), raw))
    // member i is exactly record i
    val offsets = records(raw).map(_.offset)
    assert(members.map(_.length.toLong).scanLeft(0L)(_ + _).init == offsets)
  }

  test(".lz4 decodes byte-identical, in linked blocks spanning block boundaries") {
    val lz4 = bytes("warcfile.warc.lz4")
    assert(java.util.Arrays.equals(commonsLz4(lz4), raw))
    val frames = lz4Frames(lz4)
    assert(frames.size == 50)
    // FLG bit 5 set = independent blocks; every frame is linked, and
    // some record spans two or more blocks, so a later block depends on
    // an earlier one's history
    assert(frames.forall { case (flg, _) => (flg & 0x20) == 0 })
    assert(frames.exists { case (_, blocks) => blocks >= 2 })
  }

  test("clipped.warc.gz ends inside a gzip member, after whole members") {
    val clipped = bytes("clipped.warc.gz")
    val (members, complete) = gzipMembers(clipped)
    assert(!complete, "the last member must be cut")
    assert(members.size == 5)
    // the whole members are the fixture's first five records
    val firstFive = records(raw)(5).offset.toInt
    assert(java.util.Arrays.equals(members.reduce(_ ++ _), raw.take(firstFive)))
  }

  test("clueweb-quirk.warc.gz has WARC/0.18 version lines and LF-only HTTP headers") {
    val (members, complete) = gzipMembers(bytes("clueweb-quirk.warc.gz"))
    assert(complete && members.size == 30)
    assert(members.forall(m => new String(m, 0, 11, ISO_8859_1) == "WARC/0.18\r\n"))
    val responses = records(members.reduce(_ ++ _)).filter(_.recordType == "response")
    assert(responses.size == 29)
    responses.foreach { r =>
      val block = new String(r.content, ISO_8859_1)
      val headEnd = block.indexOf("\n\n")
      assert(headEnd > 0 && block.startsWith("HTTP/"))
      assert(!block.substring(0, headEnd).contains("\r"), "HTTP header lines are LF-only")
    }
  }

  test("block-sized records start on reader-buffer multiples in all three codecs") {
    val plain = bytes("block-sized-records.warc")
    assert(plain.length == 3 * ReaderBlock)
    val gz = gzipMembers(bytes("block-sized-records.warc.gz"))._1.reduce(_ ++ _)
    val lz4 = commonsLz4(bytes("block-sized-records.warc.lz4"))
    for (decoded <- Seq(plain, gz, lz4)) {
      assert(java.util.Arrays.equals(decoded, plain))
      val recs = records(decoded)
      assert(recs.map(_.offset) == Seq(0L, ReaderBlock.toLong, 2L * ReaderBlock))
      assert(recs.forall(r => r.error.isEmpty && r.blockDigestOk.contains(true)))
    }
  }

  test("no Scala source names a checkout path outside the repository in a string literal") {
    // the prefix is assembled so this file does not match itself
    val needle = "\"" + Seq("", "root", "reference").mkString("/")
    val sources = Files.walk(Paths.get("src"))
    val offenders = try sources.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) &&
              !Seq("*", "/*", "//").exists(line.trim.startsWith) => s"$p:${i + 1}"
        }
      }.toVector
    finally sources.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
