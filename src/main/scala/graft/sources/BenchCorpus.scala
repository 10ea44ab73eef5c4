package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.core.{BrotliInputStream, HeaderMap, Lz4FrameOutputStream, WarcByteReader,
  WarcParseOptions, WarcParser, WarcRecord, WarcWriter}

/** The fixture set and the bench corpora derived from it.
  *
  * The fixture set is Resiliparse's own test archive (50 Common Crawl
  * records) plus the quirk files its suite derives from it (FIXTURES.md
  * §A). All of it is built once under `java.io.tmpdir` from ONE in-repo
  * resource, the brotli-compressed archive `graft/warcfile.warc.br`;
  * [[FixtureDir]] is the only place tests, queries and Bench learn where
  * the files are.
  *
  * The bench corpora are N files of back-to-back fixture copies.
  * Concatenating archives is valid for every container (multi-member
  * gzip — the reference writes one member per record for exactly this
  * reason — back-to-back LZ4 frames and plain record streams), so each
  * output file is a well-formed WARC with copies*50 records. This makes
  * the BASELINE gzip-scan throughput (~10.4k records/s/core,
  * BASELINE.md) measurable: w17/w18 scan this corpus and their bench
  * timings give records/s.
  */
object BenchCorpus {

  val FixtureResource = "/graft/warcfile.warc.br"
  /** The published shape of the decoded fixture (FIXTURES.md §A,
    * tests/fastwarc/test_warc.py:21-22); decoding fails loudly on any
    * other. */
  val FixtureBytes = 550336
  val RecordsPerCopy = 50
  val FixtureResponses = 16
  /** Record size of `block-sized-records.warc*`: WarcByteReader's
    * default buffer, so every record boundary is a buffer refill. */
  val ReaderBlock = 64 * 1024

  /** Directory holding the whole fixture set, built on first use; FIXTURES.md
    * §A lists each file and its derivation. */
  lazy val FixtureDir: String =
    ensureFixtures(Paths.get(System.getProperty("java.io.tmpdir"), "graft_fixtures"))
  lazy val FixtureRaw: String = s"$FixtureDir/warcfile.warc"
  lazy val FixtureGz: String = s"$FixtureDir/warcfile.warc.gz"
  lazy val FixtureLz4: String = s"$FixtureDir/warcfile.warc.lz4"

  // bump when a derivation changes: an older set is then rebuilt in place
  private val FixtureVersion = "READY-v1"

  private def ensureFixtures(d: Path): String = synchronized {
    if (Files.exists(d.resolve(FixtureVersion))) return d.toString
    val br = {
      val in = getClass.getResourceAsStream(FixtureResource)
      if (in == null) throw new IllegalStateException(s"missing resource $FixtureResource")
      try in.readAllBytes() finally in.close()
    }
    val raw = new BrotliInputStream(new ByteArrayInputStream(br)).readAllBytes()
    val records = checkedRecords(raw)
    val chunks = records.indices.map { i =>
      val end = if (i + 1 < records.size) records(i + 1).offset else raw.length.toLong
      java.util.Arrays.copyOfRange(raw, records(i).offset.toInt, end.toInt)
    }
    def gzip(recs: Seq[Array[Byte]])(out: OutputStream): Unit =
      recs.foreach(r => out.write(gzipMember(r)))
    def lz4(recs: Seq[Array[Byte]])(out: OutputStream): Unit =
      recs.foreach(r => out.write(lz4Frame(r)))
    writeAtomic(d.resolve("warcfile.warc"))(_.write(raw))
    writeAtomic(d.resolve("warcfile.warc.gz"))(gzip(chunks))
    writeAtomic(d.resolve("warcfile.warc.lz4"))(lz4(chunks))
    writeAtomic(d.resolve("warcfile.warc.br"))(_.write(br))
    writeAtomic(d.resolve("warcfile.warc.zst"))(out =>
      WarcWriter.recompress(new ByteArrayInputStream(raw), out, WarcWriter.Zstd))
    writeAtomic(d.resolve("clipped.warc.gz"))(_.write(clipped(chunks)))
    writeAtomic(d.resolve("clueweb-quirk.warc.gz"))(gzip(cluewebQuirk(records)))
    val blocks = blockSizedRecords(records)
    writeAtomic(d.resolve("block-sized-records.warc"))(out => blocks.foreach(out.write))
    writeAtomic(d.resolve("block-sized-records.warc.gz"))(gzip(blocks))
    writeAtomic(d.resolve("block-sized-records.warc.lz4"))(lz4(blocks))
    Files.write(d.resolve(FixtureVersion), Array.emptyByteArray)
    d.toString
  }

  /** The decoded fixture's records, or an IllegalStateException unless
    * it is exactly [[FixtureBytes]] long and parses cleanly to
    * [[RecordsPerCopy]] records of which [[FixtureResponses]] are
    * responses. */
  private[graft] def checkedRecords(raw: Array[Byte]): Vector[WarcRecord] = {
    def fail(msg: String) = throw new IllegalStateException(s"$FixtureResource: $msg")
    if (raw.length != FixtureBytes)
      fail(s"decodes to ${raw.length} B, expected $FixtureBytes B")
    val recs = new WarcParser(new WarcByteReader(new ByteArrayInputStream(raw)),
      "warcfile.warc", WarcParseOptions(parseHttp = false)).toVector
    recs.find(_.error.isDefined).foreach(r => fail(s"record at ${r.offset}: ${r.error.get}"))
    val responses = recs.count(_.recordType == "response")
    if (recs.size != RecordsPerCopy || responses != FixtureResponses)
      fail(s"${recs.size} records / $responses responses, " +
        s"expected $RecordsPerCopy / $FixtureResponses")
    recs
  }

  /** One gzip member at zlib level 9. */
  private def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 3 + 32)
    val gz = new java.util.zip.GZIPOutputStream(bos) { `def`.setLevel(9) }
    gz.write(data)
    gz.close()
    bos.toByteArray
  }

  /** One LZ4 frame in the reference writer's layout: 64 KiB linked
    * blocks, no content checksum. */
  private def lz4Frame(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new Lz4FrameOutputStream(bos, linked = true, contentChecksum = false)
    w.write(data)
    w.close()
    bos.toByteArray
  }

  /** Serialize a record with recomputed Content-Length and block digest
    * (the records are parsed without an HTTP split, so the payload
    * digest header is written as it is). */
  private def serialize(rec: WarcRecord): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    WarcWriter.writeRecord(rec, bos, checksum = true)
    bos.toByteArray
  }

  /** `clipped.warc.gz` — the EOF / short-read case: the gzip members of
    * the first five records, then the first half of the sixth (a
    * response), so the archive ends inside a deflate stream after that
    * record's header block. */
  private def clipped(chunks: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    chunks.take(5).foreach(c => bos.write(gzipMember(c)))
    val cut = gzipMember(chunks(5))
    bos.write(cut, 0, cut.length / 2)
    bos.toByteArray
  }

  /** `clueweb-quirk.warc.gz` — ClueWeb09's legacy shape: the warcinfo
    * record plus 29 responses (the 16 fixture responses, cycled), every
    * version line `WARC/0.18` and every HTTP header block LF-only. Each
    * response gets a fresh deterministic record id and a `WARC-TREC-ID`;
    * bodies are unchanged, so their payload digests stay valid and only
    * the block digest is recomputed. One gzip member per record. */
  private def cluewebQuirk(records: Vector[WarcRecord]): Vector[Array[Byte]] = {
    val responses = records.filter(_.recordType == "response")
    val info = records.find(_.recordType == "warcinfo").get
    val quirked = (0 until 29).map { i =>
      val r = responses(i % responses.size)
      val id = java.util.UUID.nameUUIDFromBytes(s"clueweb-quirk-$i".getBytes(US_ASCII))
      r.copy(content = lfHttpHeaders(r.content), headers = r.headers
        .updated("WARC-Record-ID", s"<urn:uuid:$id>")
        .append("WARC-TREC-ID", f"clueweb09-en0000-00-$i%05d"))
    }
    (info +: quirked).map(r => serialize(r.copy(version = "WARC/0.18"))).toVector
  }

  /** The block with its HTTP header lines (up to the blank line) ending
    * in LF instead of CRLF; the body is left as is. */
  private def lfHttpHeaders(block: Array[Byte]): Array[Byte] = {
    val text = new String(block, ISO_8859_1)
    val end = text.indexOf("\r\n\r\n")
    require(end > 0, "response block without an HTTP header terminator")
    val head = text.substring(0, end).replace("\r\n", "\n") + "\n\n"
    head.getBytes(ISO_8859_1) ++ block.drop(end + 4)
  }

  /** `block-sized-records.warc` — the buffer-boundary case: the first
    * three fixture responses, each body padded with LF (or cut) so the
    * serialized record is exactly [[ReaderBlock]] bytes. Record
    * boundaries then fall on offsets 0, 65,536 and 131,072, where the
    * reader's buffer refills. The payload digest no longer applies and
    * is dropped. */
  private def blockSizedRecords(records: Vector[WarcRecord]): Vector[Array[Byte]] =
    records.filter(_.recordType == "response").take(3).map { r0 =>
      val r = r0.copy(headers = HeaderMap(
        r0.headers.entries.filterNot(_._1.equalsIgnoreCase("WARC-Payload-Digest"))))
      def sized(n: Int) = {
        val c = java.util.Arrays.copyOf(r.content, n)
        if (n > r.content.length) java.util.Arrays.fill(c, r.content.length, n, '\n'.toByte)
        r.copy(content = c)
      }
      // the header block depends on the length only through its digit
      // count, so one trial serialization fixes the block length
      val probe = serialize(sized(30000))
      val out = serialize(sized(30000 + ReaderBlock - probe.length))
      require(out.length == ReaderBlock, s"block-sized record is ${out.length} B")
      out
    }

  /** Write `target` through a writer-unique tmp file (pid + nano
    * suffix) and one atomic move. The synchronized blocks here are
    * per-JVM only: with a fixed tmp name a second JVM racing the same
    * ensure could promote the first one's partially written bytes. */
  private def writeAtomic(target: Path)(write: OutputStream => Unit): Unit = {
    val d = target.getParent
    Files.createDirectories(d)
    sweepStaleTmps(d)
    val tmp = d.resolve(
      s".${target.getFileName}.${ProcessHandle.current.pid}-${System.nanoTime()}.tmp")
    try {
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 64 * 1024)
      try write(out) finally out.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Unique tmp names never collide, so a crashed writer's tmp is no
    * longer self-healed by the next REPLACE_EXISTING — sweep dot-tmp
    * debris older than an hour (never a LIVE writer's file: any
    * in-flight ensure finishes in seconds).
    */
  private def sweepStaleTmps(d: Path): Unit = {
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val listing = Files.list(d)
    try listing.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".") && n.endsWith(".tmp") &&
          (scala.util.Try(Files.getLastModifiedTime(p).toMillis)
            .getOrElse(Long.MaxValue) < cutoff))
        scala.util.Try(Files.delete(p))
    } finally listing.close()
  }

  /** Create (once) and return the corpus directory. */
  def ensure(dir: String, files: Int = 10, copiesPerFile: Int = 20): String =
    ensureFrom(dir, files, copiesPerFile, FixtureGz, ".warc.gz")

  private def ensureFrom(dir: String, files: Int, copiesPerFile: Int,
      srcPath: String, ext: String): String =
    synchronized {
      val d = Paths.get(dir)
      val marker = d.resolve(s"READY-$files-$copiesPerFile")
      if (Files.exists(marker)) return dir
      Files.createDirectories(d)
      // A shape change (different files/copies) regenerates only its own
      // file range — stale bench-* files from a LARGER previous shape
      // would survive and silently inflate every record count, so clear
      // any prior generation (markers included) before writing.
      val stale = Files.list(d)
      try stale.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("bench-") || n.startsWith("READY-")) Files.delete(p)
      } finally stale.close()
      val src = Files.readAllBytes(Paths.get(srcPath))
      (0 until files).foreach { i =>
        writeAtomic(d.resolve(f"bench-$i%03d$ext"))(out =>
          (0 until copiesPerFile).foreach(_ => out.write(src)))
      }
      Files.write(marker, Array.emptyByteArray)
      dir
    }

  /** Uncompressed variant of [[ensure]] (BASELINE.md's 108k records/s
    * row — the no-decompression scan ceiling).
    */
  def ensureUncompressed(dir: String, files: Int, copiesPerFile: Int): String =
    ensureFrom(dir, files, copiesPerFile, FixtureRaw, ".warc")

  /** LZ4 variant of [[ensure]] (BASELINE.md's 49.8k records/s row). */
  def ensureLz4(dir: String, files: Int, copiesPerFile: Int): String =
    ensureFrom(dir, files, copiesPerFile, FixtureLz4, ".warc.lz4")

  /** `.warc.zst` variant (frame-per-record fixture, concatenated like
    * the others — concatenated zstd frame chains are legal archives).
    * No reference row exists for zstd (fastwarc has no zstd); the
    * bench reports it as an extra informational column.
    */
  def ensureZstd(dir: String, files: Int, copiesPerFile: Int): String =
    ensureFrom(dir, files, copiesPerFile, s"$FixtureDir/warcfile.warc.zst", ".warc.zst")

  def totalRecords(files: Int = 10, copiesPerFile: Int = 20): Long =
    files.toLong * copiesPerFile * RecordsPerCopy

  /** Deterministic line-oriented text fixture for the ReadFromText
    * analog (w21): 1000 lines `line-<i>`.
    */
  def ensureTextFixture(dir: String): String = synchronized {
    val d = Paths.get(dir)
    val f = d.resolve("lines.txt")
    if (!Files.exists(f)) writeAtomic(f)(out =>
      (0 until 1000).foreach(i => out.write(s"line-$i\n".getBytes(US_ASCII))))
    f.toString
  }

  /** Member-per-record gzip archive of the fixture plus the writer's
    * reported member offsets (sidecar), for the point-lookup oracle
    * (w22). Returns (archive path, member offsets).
    */
  def ensureMemberArchive(dir: String): (String, Seq[Long]) = synchronized {
    val d = Paths.get(dir)
    val f = d.resolve("members.warc.gz")
    val side = d.resolve("members.offsets")
    if (!Files.exists(side)) {
      var offsets = Vector.empty[Long]
      writeAtomic(f) { out =>
        val w = new WarcWriter.RecordStreamWriter(out, WarcWriter.Gzip)
        try offsets = fixtureRecords().map(w.write).toVector finally w.finishCodecs()
      }
      writeAtomic(side)(_.write(offsets.mkString("\n").getBytes(US_ASCII)))
    }
    val offsets = new String(Files.readAllBytes(side), US_ASCII)
      .split('\n').toSeq.filter(_.nonEmpty).map(_.toLong)
    (f.toString, offsets)
  }

  /** The fixture's records, envelope only (no HTTP split). */
  private def fixtureRecords(): Vector[WarcRecord] = {
    val in = Files.newInputStream(Paths.get(FixtureRaw))
    try new WarcParser(new WarcByteReader(in), "", WarcParseOptions(parseHttp = false)).toVector
    finally in.close()
  }

  /** Collection of the SAME 50 fixture records re-membered once per
    * seekable container (raw / member-per-record gzip / frame-per-record
    * LZ4 / frame-per-record zstd / trained-dictionary zstd) — the
    * multi-archive multi-codec corpus behind the collection-level CDXJ
    * lookup-join query (w49). Brotli is deliberately absent from the
    * POINT-READ side: an RFC 7932 stream has no member boundaries to
    * seek (and no writer exists anywhere for it), so brotli archives
    * are scannable (w05) but not point-readable — documented at the
    * query. Returns the five archive paths.
    */
  def ensureCollection(dir: String): Seq[String] = synchronized {
    val d = Paths.get(dir)
    def build(name: String)(write: OutputStream => Unit): String = {
      val f = d.resolve(name)
      if (!Files.exists(f)) writeAtomic(f)(write)
      f.toString
    }
    val plain = Seq[(String, WarcWriter.Codec)](
      ("collection-raw.warc", WarcWriter.Raw),
      ("collection-gzip.warc.gz", WarcWriter.Gzip),
      ("collection-lz4.warc.lz4", WarcWriter.Lz4),
      ("collection-zstd.warc.zst", WarcWriter.Zstd)
    ).map { case (name, codec) =>
      build(name) { out =>
        val in = Files.newInputStream(Paths.get(FixtureGz))
        try WarcWriter.recompress(in, out, codec)
        finally in.close()
      }
    }
    val dict = build("collection-dict.warc.zst") { out =>
      WarcWriter.recompressZstdTrained(
        () => Files.newInputStream(Paths.get(FixtureGz)), out)
    }
    plain :+ dict
  }

  /** Deliberately damaged raw archive for the resilience oracle (w25):
    * inter-record garbage lines (must be skipped silently, reference
    * resync warc.pyx:1184-1207) and a final record truncated mid-payload
    * (must surface as an error row, exc_loop doctrine). Built
    * deterministically from the fixture so the oracle's totals are
    * independently known.
    */
  def ensureCorrupted(dir: String): String = synchronized {
    val f = Paths.get(dir).resolve("corrupted.warc")
    if (!Files.exists(f)) {
      // serialize each record individually (raw codec) to splice bytes
      val serialized = fixtureRecords().map { rec =>
        val bos = new ByteArrayOutputStream()
        WarcWriter.writeRecord(rec, bos)
        bos.toByteArray
      }
      // final record: keep the full header block plus 10 payload bytes
      val last = serialized(49)
      val headerEnd = new String(last, US_ASCII).indexOf("\r\n\r\n") + 4
      require(headerEnd > 4, "no header terminator in serialized record")
      writeAtomic(f) { out =>
        serialized.take(10).foreach(out.write)
        out.write("#garbage, not a WARC line\r\nstill not one\r\n".getBytes(US_ASCII))
        serialized.slice(10, 49).foreach(out.write)
        out.write(last, 0, headerEnd + 10)
      }
    }
    f.toString
  }

  /** Fixture archive recompressed gzip -> LZ4 (`recompress_warc`, w23). */
  def ensureRecompressed(dir: String): String = synchronized {
    val f = Paths.get(dir).resolve("recompressed.warc.lz4")
    if (!Files.exists(f)) writeAtomic(f) { out =>
      val in = Files.newInputStream(Paths.get(FixtureGz))
      try WarcWriter.recompress(in, out, WarcWriter.Lz4)
      finally in.close()
    }
    f.toString
  }

  // — encoded-bodies fixture (w20): gzip / deflate / chunked+gzip / br —

  private def gz(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(bos)
    d.write(data); d.close()
    bos.toByteArray
  }

  /** Chunked transfer encoding split into two chunks. */
  private def chunk(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val half = data.length / 2
    def one(off: Int, len: Int): Unit = {
      bos.write(s"${len.toHexString}\r\n".getBytes("ascii"))
      bos.write(data, off, len)
      bos.write("\r\n".getBytes("ascii"))
    }
    one(0, half); one(half, data.length - half)
    bos.write("0\r\n\r\n".getBytes("ascii"))
    bos.toByteArray
  }

  private def httpResponse(body: Array[Byte], extraHeaders: Seq[String]): Array[Byte] = {
    val head = (Seq("HTTP/1.1 200 OK", "Content-Type: text/plain") ++
      extraHeaders :+ s"Content-Length: ${body.length}").mkString("", "\r\n", "\r\n\r\n")
    head.getBytes("ascii") ++ body
  }

  /** Fixture WARC whose response bodies exercise every decode-chain step
    * (reference auto_decode, warc.pyx:785-837): gzip, deflate,
    * chunked-then-gzip, and brotli (from-scratch [[graft.core.Brotli]]).
    * Plaintexts are `repeat`-constructions an oracle can recompute.
    */
  def ensureEncodedBodies(dir: String): String = synchronized {
    val d = Paths.get(dir)
    val marker = d.resolve("READY-v2") // v2: real brotli body
    if (Files.exists(marker)) return dir
    val date = java.time.Instant.parse("2020-08-08T16:00:00Z")
    val recs = Seq(
      ("gzip", httpResponse(gz(("gzip body content. " * 50).getBytes("ascii")),
        Seq("Content-Encoding: gzip"))),
      ("deflate", httpResponse(deflate(("deflate payload x. " * 40).getBytes("ascii")),
        Seq("Content-Encoding: deflate"))),
      ("chunked-gzip", httpResponse(chunk(gz(("chunked then gzip. " * 30).getBytes("ascii"))),
        Seq("Content-Encoding: gzip", "Transfer-Encoding: chunked"))),
      // real brotli stream of "brotli body payload. " x 45 (pre-compressed
      // with the reference C encoder at q9; the JVM side only decodes)
      ("br", httpResponse(java.util.Base64.getDecoder.decode(
        "G7ADAMRtbF3Han6lEwRGdIoKo5pVra8Lcj6G32YGAA=="),
        Seq("Content-Encoding: br"))))
    writeAtomic(d.resolve("encoded.warc.gz")) { out =>
      val w = new WarcWriter.RecordStreamWriter(out, WarcWriter.Gzip)
      try recs.foreach { case (label, content) =>
        w.write(WarcWriter.buildRecord("response", content,
          targetUri = Some(s"http://example.com/$label"), date = date,
          contentType = Some("application/http; msgtype=response")))
      } finally w.finishCodecs()
    }
    Files.write(marker, Array.emptyByteArray)
    dir
  }
}
