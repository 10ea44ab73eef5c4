package perfbench

import java.io.File
import java.time.Instant
import java.util.SplittableRandom

/** The generated inputs of each workload, with the numbers the output
  * checks compare against. Sizes and proportions are fixed; the seed picks
  * content only. Every generator derives its own random stream from the
  * seed and a per-file salt, so files are identical whatever the thread
  * schedule.
  */
object Corpus {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Varied file sizes that are the same for every seed: with one task
    * per file, seeded sizes would change the slowest task from run to run.
    */
  def fileSizes(total: Int, files: Int): Vector[Int] =
    Gen.sizes(new SplittableRandom(files.toLong), total, files)

  // — scan —

  val ScanRecords = 24000      // a multiple of the fixture's 50 records
  val ScanFiles = 24
  /** File i's codec: 18 gzip, 2 zstd, 2 lz4, 2 uncompressed. */
  def scanCodec(i: Int): String = i % 12 match {
    case 3 => "zstd"
    case 7 => "lz4"
    case 11 => "none"
    case _ => "gzip"
  }

  /** (record type, HTTP status or -1, host) -> (records, content bytes). */
  type ScanKey = (String, Int, String)
  final case class Scan(dir: File, expected: Map[ScanKey, (Long, Long)], files: Vector[File],
      records: Long, responses: Long)

  def scan(root: File, seed: Long): Scan = {
    val dir = Gen.dir(root, "scan")
    val fx = Fixture.records
    val hosts = Gen.hosts(128)
    val sizes = fileSizes(ScanRecords, ScanFiles)
    val firsts = sizes.scanLeft(0)(_ + _)
    val parts = Gen.parallel(ScanFiles) { i =>
      val st = new Stamp(seed * 1000003L + i)
      val f = new File(dir, f"part-$i%02d${Warc.ext(scanCodec(i))}")
      val counts = scala.collection.mutable.Map.empty[ScanKey, (Long, Long)]
      // record k of the corpus is fixture record perm(k % 50) of its block,
      // so the corpus holds each fixture record exactly ScanRecords / 50 times
      val recs = (firsts(i) until firsts(i + 1)).iterator.map { k =>
        val blockPerm = new Stamp(seed * 7919L + k / Fixture.Records).perm(Fixture.Records)
        val src = fx(blockPerm(k % Fixture.Records))
        val r = st.restamp(src, hosts(st.rng.nextInt(hosts.length)), st.date())
        val key = (r.recordType, Warc.httpStatus(r).getOrElse(-1),
          r.header("WARC-Target-URI").map(Gen.hostOf).getOrElse(""))
        val (n, b) = counts.getOrElse(key, (0L, 0L))
        counts(key) = (n + 1, b + r.content.length)
        r
      }
      Warc.writeFile(f, scanCodec(i), recs.to(Iterable))
      (f, counts.toMap)
    }
    val expected = parts.flatMap(_._2).groupMapReduce(_._1)(_._2) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    Scan(dir, expected, parts.map(_._1), ScanRecords,
      expected.collect { case ((t, _, _), (n, _)) if t == "response" => n }.sum)
  }

  // — extract —

  val ExtractPages = 800
  val ExtractFiles = 24
  val RecrawlShare = 0.10
  val BlockedShare = 0.05
  val Blocklist: Seq[String] = Seq("casino jackpot", "cheap pills online")
  val ParagraphWords = 60

  final case class Extract(dir: File, pages: Long, uniques: Long, survivors: Long)

  def extract(root: File, seed: Long): Extract = {
    val dir = Gen.dir(root, "extract")
    val r = rng(seed, 2)
    val recrawls = ExtractPages * RecrawlShare
    val uniques = ExtractPages - recrawls.toInt
    val blocked = (uniques * BlockedShare).toInt
    // positions 1.. of the recrawls and which unique pages are blocked
    val recrawlAt = new Stamp(r.nextLong()).perm(ExtractPages - 1).take(recrawls.toInt).map(_ + 1).toSet
    val blockedUnique = new Stamp(r.nextLong()).perm(uniques).take(blocked).toSet
    val st = new Stamp(r.nextLong())
    val hosts = Gen.hosts(64)
    val pages = scala.collection.mutable.ArrayBuffer.empty[FixtureRecord]
    var u = 0
    var templatePerm = st.perm(Fixture.Responses)
    for (k <- 0 until ExtractPages) {
      val page =
        if (recrawlAt(k)) {
          val src = pages(st.rng.nextInt(pages.length))
          st.restamp(src, Gen.hostOf(src.header("WARC-Target-URI").get), st.date())
        } else {
          if (u % Fixture.Responses == 0) templatePerm = st.perm(Fixture.Responses)
          val tpl = Fixture.responses(templatePerm(u % Fixture.Responses))
          val extra = if (blockedUnique(u)) Seq(Blocklist(u % Blocklist.length)) else Nil
          val text = Gen.paragraph(st.rng, ParagraphWords, s"ref$seed-$u", extra)
          u += 1
          st.restamp(Gen.withParagraph(tpl, text), hosts(st.rng.nextInt(hosts.length)), st.date())
        }
      pages += page
    }
    val sizes = fileSizes(ExtractPages, ExtractFiles)
    val firsts = sizes.scanLeft(0)(_ + _)
    Gen.parallel(ExtractFiles) { i =>
      Warc.writeFile(new File(dir, f"pages-$i%02d.warc.gz"), "gzip",
        pages.slice(firsts(i), firsts(i + 1)))
    }
    Extract(dir, ExtractPages, uniques, uniques - blocked)
  }

  // — neardup —

  val Docs = 2000
  val Vocab = 20000
  val ExactClusters = 40
  val ViralDocs = 100

  final case class Neardup(dir: File, docs: Long, exactClusters: Vector[Vector[Long]])

  /** Zipf(1.1) sampler over the vocabulary by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 26
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }

  /** Zipf-vocabulary texts with planted clusters: heavy-tailed cluster
    * sizes (2..40 exact copies plus a few near copies each, so every
    * bucket stays under the engine's LSH skew cap) and one viral-template
    * cluster that exceeds the cap on purpose.
    */
  def neardup(root: File, seed: Long): Neardup = {
    val dir = Gen.dir(root, "neardup")
    val r = rng(seed, 4)
    val z = new Zipf(Vocab, 1.1)
    def text(len: Int): Vector[String] = Vector.fill(len)(word(z.next(r)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Vector[Int]]
    for (_ <- 0 until ExactClusters) {
      val size = math.min(40, (2 / math.pow(1 - r.nextDouble(), 1 / 1.2)).toInt)
      val base = text(40 + r.nextInt(80))
      val members = (0 until size).map { _ => texts += base.mkString(" "); texts.length - 1 }
      clusters += members.toVector
      for (_ <- 0 until r.nextInt(3)) {
        val near = base.updated(r.nextInt(base.length), word(z.next(r)))
        texts += near.mkString(" ")
      }
    }
    val template = text(30).mkString(" ")
    for (v <- 0 until ViralDocs) texts += s"$template v$v"
    while (texts.length < Docs) texts += text(30 + r.nextInt(90)).mkString(" ")
    // doc ids: a seeded permutation of 1..Docs (the engine's own chain
    // documents live at 3,000,000 and up)
    val ids = new Stamp(r.nextLong()).perm(Docs).map(_ + 1L)
    writeDocs(new File(dir, "documents.parquet"), texts.indices.map(i => (ids(i), texts(i))))
    Neardup(dir, Docs, clusters.map(_.map(i => ids(i))).toVector)
  }

  private def writeDocs(f: File, rows: Seq[(Long, String)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message documents { required int64 doc_id; required binary text (STRING); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f.toURI))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    try rows.sortBy(_._1).foreach { case (id, t) => w.write(g.newGroup().append("doc_id", id).append("text", t)) }
    finally w.close()
  }

  // — stream —

  /** Landing rate: about a quarter of what the stream sustains on a
    * 4-core host; at half, latency varied too much from run to run
    * (README, "Stream load"). PERFBENCH_STREAM_RATE overrides it, for
    * stepping the rate when that capacity is measured again.
    */
  val LandingsPerSecond = 20.0
  def landingsPerSecond: Double =
    sys.env.get("PERFBENCH_STREAM_RATE").map(_.toDouble).getOrElse(LandingsPerSecond)
  val PagesPerLanding = 3
  val EventStepS = 10L          // event time between consecutive landings
  val WatermarkS = 50L          // watermark delay: 5 landings of event time
  val InsideShare = 0.15        // repeats 1-3 landings back: dropped
  val OutsideShare = 0.05       // repeats >= outsideMinGap landings back: kept again
  /** An outside repeat is kept only if a micro-batch between it and its
    * stored copy advanced the watermark past the copy, so the gap spans
    * 5 s of landings (several micro-batches) and never less than 60.
    */
  def outsideMinGap: Int = math.max(60, math.round(5 * landingsPerSecond).toInt)

  final case class Landing(file: File, name: String, fps: Vector[String])
  final case class Stream(staged: File, landing: File, warm: Vector[Landing],
      landings: Vector[Landing], expectedKept: Map[String, Int])

  def stream(root: File, seed: Long, seconds: Double, warm: Int): Stream = {
    val staged = Gen.dir(root, "stream-staged")
    val landing = Gen.dir(root, "stream-landing")
    val n = math.max(1, math.round(seconds * landingsPerSecond).toInt)
    val gap = outsideMinGap
    val r = rng(seed, 5)
    val st = new Stamp(r.nextLong())
    val hosts = Gen.hosts(64)
    val base = Instant.parse("2022-01-01T00:00:00Z")
    val pagesAt = scala.collection.mutable.ArrayBuffer.empty[Vector[(FixtureRecord, String)]]
    // fingerprint -> landing index of the copy the dedup state holds
    val stored = scala.collection.mutable.Map.empty[String, Int]
    val kept = scala.collection.mutable.Map.empty[String, Int]
    def fresh(tag: String): (FixtureRecord, String) = {
      val tpl = Fixture.responses(st.rng.nextInt(Fixture.Responses))
      val p = Gen.withParagraph(tpl, Gen.paragraph(st.rng, 40, tag, Nil))
      (p, Warc.md5Hex(p.content.drop(Warc.bodyStart(p.content))))
    }
    // A repeat is drawn only where its outcome is certain: an inside repeat
    // re-lands a page whose stored copy is at most 4 landings old, an
    // outside repeat one whose stored copy is at least outsideMinGap old.
    def land(g: Int, name: String): Landing = {
      val date = base.plusSeconds(EventStepS * g)
      val pages = (0 until PagesPerLanding).toVector.map { j =>
        val x = st.rng.nextDouble()
        val inside = if (g >= warm + 3 && x < InsideShare) {
          val c = pagesAt(g - 1 - st.rng.nextInt(3))(j)
          if (g - stored(c._2) <= 4) Some(c) else None
        } else None
        val outside = if (inside.isEmpty && g >= gap && x >= InsideShare &&
            x < InsideShare + OutsideShare) {
          val c = pagesAt(st.rng.nextInt(g - gap + 1))(j)
          if (g - stored(c._2) >= gap) Some(c) else None
        } else None
        val page = inside.orElse(outside).getOrElse(fresh(s"land$seed-$g-$j"))
        if (inside.isEmpty) { stored(page._2) = g; kept(page._2) = kept.getOrElse(page._2, 0) + 1 }
        page
      }
      pagesAt += pages
      val f = new File(staged, name)
      Warc.writeFile(f, "gzip", pages.zipWithIndex.map { case ((p, _), j) =>
        st.restamp(p, hosts(st.rng.nextInt(hosts.length)), date.plusSeconds(j))
      })
      Landing(f, name, pages.map(_._2))
    }
    val warmL = (0 until warm).toVector.map(g => land(g, f"warm-$g%05d.warc.gz"))
    val ls = (0 until n).toVector.map(i => land(warm + i, f"land-$i%05d.warc.gz"))
    Stream(staged, landing, warmL, ls, kept.toMap)
  }
}
