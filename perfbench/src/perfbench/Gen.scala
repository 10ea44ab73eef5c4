package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.core.{BrotliInputStream, WarcByteReader, WarcParseOptions, WarcParser}

/** One fixture record: version line, ordered WARC headers, block. */
final case class FixtureRecord(version: String, headers: Vector[(String, String)],
    content: Array[Byte]) {
  def header(k: String): Option[String] =
    headers.collectFirst { case (hk, v) if hk.equalsIgnoreCase(k) => v }
  def recordType: String = header("WARC-Type").getOrElse("unknown").trim.toLowerCase
}

/** The in-repo fixture archive: the only source of WARC bytes the
  * benchmark uses. It is decoded with the engine's own Brotli stream and
  * checked against the published numbers before anything is generated.
  */
object Fixture {
  val Resource = "/graft/warcfile.warc.br"
  val Bytes = 550336
  val Records = 50
  val Responses = 16

  lazy val records: Vector[FixtureRecord] = {
    val in = getClass.getResourceAsStream(Resource)
    if (in == null) throw new IllegalStateException(s"fixture $Resource not on the classpath")
    val raw = try new BrotliInputStream(in).readAllBytes() finally in.close()
    if (raw.length != Bytes)
      throw new IllegalStateException(s"fixture decodes to ${raw.length} B, expected $Bytes B")
    val parsed = new WarcParser(new WarcByteReader(new ByteArrayInputStream(raw)),
      "warcfile.warc", WarcParseOptions(parseHttp = false)).toVector
    parsed.find(_.error.isDefined).foreach(r =>
      throw new IllegalStateException(s"fixture record at ${r.offset}: ${r.error.get}"))
    val recs = parsed.map(r => FixtureRecord(r.version, r.headers.entries, r.content))
    val responses = recs.count(_.recordType == "response")
    if (recs.length != Records || responses != Responses)
      throw new IllegalStateException(
        s"fixture has ${recs.length} records / $responses responses, expected $Records / $Responses")
    recs
  }

  lazy val responses: Vector[FixtureRecord] = records.filter(_.recordType == "response")
}

/** WARC serialisation and compression for generated archives. Lengths and
  * digests are recomputed for every record written.
  */
object Warc {
  private val Crlf = "\r\n".getBytes(ISO_8859_1)
  private val base32 = new org.apache.commons.codec.binary.Base32()

  def sha1(b: Array[Byte]): String =
    "sha1:" + base32.encodeToString(MessageDigest.getInstance("SHA-1").digest(b))

  def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Offset of the HTTP body inside a block, or -1 when there is none. */
  def bodyStart(content: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < content.length) {
      if (content(i) == '\r' && content(i + 1) == '\n' && content(i + 2) == '\r' &&
          content(i + 3) == '\n') return i + 4
      i += 1
    }
    -1
  }

  def httpStatus(rec: FixtureRecord): Option[Int] = {
    val isHttp = rec.header("Content-Type").exists(_.trim.toLowerCase.startsWith("application/http"))
    val line = new String(rec.content, 0, math.min(64, rec.content.length), ISO_8859_1)
    if (!isHttp || !line.startsWith("HTTP/")) None
    else scala.util.Try(line.split(" ", 3)(1).toInt).toOption
  }

  def serialize(rec: FixtureRecord): Array[Byte] = {
    val c = rec.content
    val body = bodyStart(c)
    val fixed = rec.headers.map {
      case (k, _) if k.equalsIgnoreCase("Content-Length") => k -> c.length.toString
      case (k, _) if k.equalsIgnoreCase("WARC-Block-Digest") => k -> sha1(c)
      case (k, _) if k.equalsIgnoreCase("WARC-Payload-Digest") && body >= 0 =>
        k -> sha1(java.util.Arrays.copyOfRange(c, body, c.length))
      case kv => kv
    }
    val sb = new StringBuilder(512).append(rec.version).append("\r\n")
    fixed.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    val out = new ByteArrayOutputStream(c.length + 600)
    out.write(sb.toString.getBytes(UTF_8))
    out.write(Crlf)
    out.write(c)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** One compression member (gzip), frame (zstd, lz4) or nothing (none). */
  def compress(codec: String, b: Array[Byte]): Array[Byte] = codec match {
    case "gzip" =>
      val out = new ByteArrayOutputStream(b.length / 3 + 64)
      val g = new java.util.zip.GZIPOutputStream(out, 64 * 1024)
      g.write(b); g.close()
      out.toByteArray
    case "zstd" => com.github.luben.zstd.Zstd.compress(b, 3)
    case "lz4" =>
      val out = new ByteArrayOutputStream(b.length / 2 + 64)
      val l = new net.jpountz.lz4.LZ4FrameOutputStream(out)
      l.write(b); l.close()
      out.toByteArray
    case "none" => b
  }

  def ext(codec: String): String = codec match {
    case "gzip" => ".warc.gz"
    case "zstd" => ".warc.zst"
    case "lz4" => ".warc.lz4"
    case _ => ".warc"
  }

  /** Write records to `f` through a sibling temp file and an atomic rename. */
  def writeFile(f: File, codec: String, recs: Iterable[FixtureRecord]): Long = {
    val tmp = new File(f.getParentFile, "." + f.getName + ".tmp")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 1 << 16)
    var n = 0L
    try recs.foreach { r => val b = compress(codec, serialize(r)); out.write(b); n += b.length }
    finally out.close()
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
    n
  }
}

/** Seeded re-stamping: fresh record ids, dates and hosts. */
final class Stamp(seed: Long) {
  val rng = new SplittableRandom(seed)
  def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString
  def date(): Instant = Instant.ofEpochSecond(1609459200L + rng.nextLong(365L * 86400))

  def restamp(r: FixtureRecord, host: String, date: Instant): FixtureRecord =
    r.copy(headers = r.headers.map {
      case (k, _) if k.equalsIgnoreCase("WARC-Record-ID") => k -> s"<urn:uuid:${uuid()}>"
      case (k, _) if k.equalsIgnoreCase("WARC-Date") => k -> date.toString
      case (k, v) if k.equalsIgnoreCase("WARC-Target-URI") => k -> Gen.withHost(v, host)
      case kv => kv
    })

  /** Fisher-Yates permutation of 0 until n. */
  def perm(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
}

object Gen {
  private val UriRe = "^(https?://)([^/:?#]+)(.*)$".r

  /** The host the scan query derives, by the same regex it uses. */
  def hostOf(uri: String): String = uri match {
    case UriRe(_, h, _) => h
    case _ => ""
  }

  def withHost(uri: String, host: String): String = uri match {
    case UriRe(s, _, rest) => s + host + rest
    case other => other
  }

  def hosts(n: Int): Vector[String] =
    Vector.tabulate(n)(i => f"host$i%03d.${Seq("com", "org", "net", "de")(i % 4)}")

  /** Run `f` over 0 until n on a small pool; results in index order. */
  def parallel[T](n: Int)(f: Int => T): Vector[T] = {
    val pool = Executors.newFixedThreadPool(math.min(n, Runtime.getRuntime.availableProcessors))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).toVector.map(i => Future(f(i)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Split `total` into `parts` seeded, varied, positive sizes. */
  def sizes(rng: SplittableRandom, total: Int, parts: Int): Vector[Int] = {
    val w = Vector.fill(parts)(0.3 + 1.7 * rng.nextDouble())
    val raw = w.map(x => x / w.sum * total)
    val base = raw.map(x => math.max(1, x.toInt))
    val order = raw.indices.sortBy(i => -(raw(i) - raw(i).toInt))
    var rest = total - base.sum
    val out = base.toArray
    var k = 0
    while (rest != 0) {
      val i = order(k % parts)
      if (rest > 0) { out(i) += 1; rest -= 1 } else if (out(i) > 1) { out(i) -= 1; rest += 1 }
      k += 1
    }
    out.toVector
  }

  // a small English vocabulary for the seeded paragraphs
  val Words: Vector[String] = ("the of and to in is was for on that with as by at from his her " +
    "this which an be are or have not had has were but one all their there been when who " +
    "more will would can about into other some time only new these two may first then " +
    "people city river market house school water history years during world state music " +
    "family company system public night light early great small local north south west east " +
    "building church station garden island village centre council report season league team " +
    "player album record film series book story paper study research project program design " +
    "energy power health science nature animal forest mountain coast harbour bridge road " +
    "railway museum library festival theatre summer winter spring autumn morning evening").split(' ').toVector

  def paragraph(rng: SplittableRandom, n: Int, unique: String, extra: Seq[String]): String = {
    val ws = Vector.fill(n)(Words(rng.nextInt(Words.length))) ++ extra :+ unique
    ws.mkString(" ")
  }

  /** Insert `<p>text</p>` after the opening body tag and again after the
    * first closing paragraph tag, fixing the HTTP Content-Length header
    * when the response carries one. Main-content extraction keeps at
    * least one of the two copies on every fixture page.
    */
  def withParagraph(page: FixtureRecord, text: String): FixtureRecord = {
    val c = page.content
    val start = Warc.bodyStart(c)
    require(start > 0, "fixture response without an HTTP body")
    val head = new String(c, 0, start, ISO_8859_1)
    val body = java.util.Arrays.copyOfRange(c, start, c.length)
    val lower = new String(body, ISO_8859_1).toLowerCase
    val bodyTag = lower.indexOf("<body")
    val afterBody = if (bodyTag >= 0) lower.indexOf('>', bodyTag) + 1 else 0
    val firstP = lower.indexOf("</p>", afterBody)
    val at = (Seq(afterBody) ++ (if (firstP >= 0) Seq(firstP + 4) else Nil)).distinct
    val ins = s"\n<p>$text</p>\n".getBytes(UTF_8)
    val nb = new ByteArrayOutputStream(body.length + 2 * ins.length)
    var prev = 0
    at.foreach { k => nb.write(body, prev, k - prev); nb.write(ins); prev = k }
    nb.write(body, prev, body.length - prev)
    val newBody = nb.toByteArray
    val newHead = head.split("\r\n", -1).map { l =>
      if (l.toLowerCase.startsWith("content-length:")) s"Content-Length: ${newBody.length}" else l
    }.mkString("\r\n")
    page.copy(content = newHead.getBytes(ISO_8859_1) ++ newBody)
  }

  def dir(root: File, name: String): File = {
    val d = new File(root, name)
    d.mkdirs()
    d
  }
}
