package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileInputStream}
import org.scalatest.funsuite.AnyFunSuite

/** The foreign-archive member-index builder: container-walk correctness
  * on archives this engine did NOT write, truncation behavior, and the
  * proven-boundary property (every reported offset starts a real
  * member).
  */
class MemberIndexSpec extends AnyFunSuite {

  private val foreignGz = graft.sources.BenchCorpus.FixtureGz

  test("gzip walk over the reference's own archive finds record-per-member " +
      "boundaries that each start with gzip magic") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(foreignGz))
    val res = MemberIndex.scan(new ByteArrayInputStream(bytes))
    assert(res.codec == "gzip")
    assert(res.isComplete, res.error)
    // the fixture is record-per-member (50 records)
    assert(res.offsets.size == 50, res.offsets.size)
    assert(res.offsets.head == 0L)
    assert(res.offsets == res.offsets.sorted)
    res.offsets.foreach { o =>
      assert((bytes(o.toInt) & 0xff) == 0x1f && (bytes(o.toInt + 1) & 0xff) == 0x8b,
        s"offset $o does not start a gzip member")
    }
  }

  test("each indexed member decodes to exactly the records the plain scan sees") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(foreignGz))
    val res = MemberIndex.scan(new ByteArrayInputStream(bytes))
    val plain = {
      val (in, _) = WarcCodecs.open(new ByteArrayInputStream(bytes))
      new WarcParser(new WarcByteReader(in), "f").toVector
    }
    // decode each member independently from its proven offset
    val viaMembers = (res.offsets :+ bytes.length.toLong).sliding(2).toVector.flatMap {
      case Vector(s, e) =>
        val (in, _) = WarcCodecs.open(
          new ByteArrayInputStream(bytes, s.toInt, (e - s).toInt))
        new WarcParser(new WarcByteReader(in), "f").toVector
      case _ => Vector.empty
    }
    assert(viaMembers.size == plain.size)
    assert(viaMembers.flatMap(_.recordId) == plain.flatMap(_.recordId))
    assert(viaMembers.count(_.error.isDefined) == 0)
  }

  test("a truncated gzip tail reports the proven prefix plus an error") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(foreignGz))
    val res = MemberIndex.scan(new ByteArrayInputStream(bytes, 0, bytes.length - 500))
    assert(!res.isComplete)
    assert(res.offsets.size < 50 && res.offsets.nonEmpty)
    assert(res.error.exists(e => e.contains("truncated") || e.contains("corruption")),
      res.error)
  }

  test("mid-stream garbage stops the walk with an error, keeping the prefix") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(foreignGz))
    val res0 = MemberIndex.scan(new ByteArrayInputStream(bytes))
    val cut = res0.offsets(10).toInt
    val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
    mangled(cut) = 'X'.toByte // destroy member 10's magic
    val res = MemberIndex.scan(new ByteArrayInputStream(mangled))
    assert(res.offsets.size == 10)
    assert(res.error.exists(_.contains("bad gzip magic")), res.error)
  }

  test("foreign LZ4: frame-per-record archive written by commons-compress " +
      "walks by pure arithmetic to per-frame offsets") {
    // build a FOREIGN lz4 archive: each record compressed as its own
    // frame by commons-compress (not our writer, not our frame layout)
    val (in, _) = WarcCodecs.open(new FileInputStream(foreignGz))
    val records = new WarcParser(new WarcByteReader(in), "f",
      WarcParseOptions(parseHttp = false)).toVector
    val raw = {
      val bos = new ByteArrayOutputStream()
      val w = new WarcWriter.RecordStreamWriter(bos, WarcWriter.Raw)
      records.foreach(w.write)
      w.close()
      bos.toByteArray
    }
    // split the raw archive at record starts and frame each slice
    val rawOffsets = {
      val (i2, _) = WarcCodecs.open(new ByteArrayInputStream(raw))
      new WarcParser(new WarcByteReader(i2), "f",
        WarcParseOptions(parseHttp = false)).toVector.map(_.offset)
    }
    val out = new ByteArrayOutputStream()
    (rawOffsets :+ raw.length.toLong).sliding(2).foreach {
      case Seq(s, e) =>
        val fz = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(out)
        fz.write(raw, s.toInt, (e - s).toInt)
        fz.finish()
      case _ =>
    }
    val lz4Bytes = out.toByteArray
    val res = MemberIndex.scan(new ByteArrayInputStream(lz4Bytes))
    assert(res.codec == "lz4")
    assert(res.isComplete, res.error)
    assert(res.offsets.size == records.size)
    // proven-boundary property: every offset starts LZ4 frame magic
    res.offsets.foreach { o =>
      assert((lz4Bytes(o.toInt) & 0xff) == 0x04 && (lz4Bytes(o.toInt + 1) & 0xff) == 0x22,
        s"offset $o does not start an LZ4 frame")
    }
    // and the indexed members round-trip the records
    val viaMembers = (res.offsets :+ lz4Bytes.length.toLong).sliding(2).toVector.flatMap {
      case Vector(s, e) =>
        val (i3, _) = WarcCodecs.open(
          new ByteArrayInputStream(lz4Bytes, s.toInt, (e - s).toInt))
        new WarcParser(new WarcByteReader(i3), "f",
          WarcParseOptions(parseHttp = false)).toVector
      case _ => Vector.empty
    }
    assert(viaMembers.flatMap(_.recordId) == records.flatMap(_.recordId))
  }

  test("raw archives report codec none and no offsets (byte-range splits " +
      "already cover them)") {
    val res = MemberIndex.scan(new ByteArrayInputStream(
      "WARC/1.1\r\nWARC-Type: warcinfo\r\n\r\n".getBytes("UTF-8")))
    assert(res.codec == "none" && res.offsets.isEmpty && res.isComplete)
  }

  test("CLI index --members emits the sidecar the scan's member_index " +
      "option consumes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_midx").toFile
    val copy = new java.io.File(tmp, "foreign.warc.gz")
    java.nio.file.Files.copy(java.nio.file.Paths.get(foreignGz), copy.toPath)
    val bos = new ByteArrayOutputStream()
    val rc = graft.tools.Cli.run(Array("index", "--members", copy.getPath),
      new java.io.PrintStream(bos, true, "UTF-8"))
    assert(rc == 0, bos.toString)
    val idx = new java.io.File(tmp, "foreign.warc.gz.idx")
    assert(idx.exists())
    val lines = scala.io.Source.fromFile(idx, "UTF-8").getLines().toVector
    assert(lines.size == 50)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val first = m.readTree(lines.head)
    assert(first.get("filename").asText() == "foreign.warc.gz")
    assert(first.get("offset").asLong() == 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
