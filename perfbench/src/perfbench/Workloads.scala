package perfbench

import java.io.{ByteArrayInputStream, File, FileInputStream}
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.core.{HttpParser, WarcByteReader, WarcCodecs, WarcParseOptions, WarcParser, WarcRecord, WarcWriter}
import graft.functions.{TextAnalysis, WarcCols, Web}
import graft.sources.{WarcRowEncoder, WarcSchema}

/** What an untraced run measured: per-operation latencies (s) and
  * throughput samples (1/s), operations attempted and failed, peak heap.
  */
final case class Measured(latencies: Seq[Double], recordRates: Seq[Double],
    docRates: Seq[Double], attempted: Int, failed: Int, memPeakMb: Double)

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Heap in use right after a full collection, in MB: the heap pools'
    * usage as of their last collection, so allocation after the collection
    * (or an explicit collection the JVM postponed) is not counted.
    */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}

trait Workload {
  /** Untimed single-thread warm-up after the set-up, leaving the other
    * cores to the JIT compiler threads.
    */
  def prime(seconds: Double): Unit = ()
  /** One cold run on a fresh session; throws when its output is wrong. */
  def cold(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Measured
  /** The traced run: per-layer metrics, spans recorded into `t`. */
  def trace(spark: SparkSession, t: Tracer, seconds: Double): Map[String, Double]
}

/** A batch workload: the same job repeated for the run's seconds. */
abstract class BatchWorkload extends Workload {
  def records: Long
  def docs: Long
  /** Run the job once; the returned check runs untimed afterwards. */
  def runOnce(spark: SparkSession): () => Unit
  /** Checks that need more than one job run, made once per run. */
  def finalCheck(spark: SparkSession): Unit = ()
  /** Single-thread layer calls over the inputs, one span per call. */
  def ledger(spark: SparkSession, t: Tracer, root: Long): Map[String, Double]

  def cold(spark: SparkSession): Unit = runOnce(spark)()

  def measure(spark: SparkSession, seconds: Double): Measured = {
    var walls = ArrayBuffer.empty[Double]
    var attempted, failed = 0
    var mem = 0.0
    def loop(s: Double, min: Int): Unit = {
      val end = System.nanoTime() + (s * 1e9).toLong
      val n0 = walls.length
      while (walls.length - n0 < min || System.nanoTime() < end) {
        attempted += 1
        try {
          val t0 = System.nanoTime()
          val check = runOnce(spark)
          walls += (System.nanoTime() - t0) / 1e9
          check()
        } catch { case NonFatal(e) => failed += 1; Main.log(s"operation failed: $e") }
        mem = math.max(mem, Stats.heapAfterGcMb())
        if (failed > 3 && walls.isEmpty) throw new IllegalStateException("every operation fails")
      }
    }
    // untimed warm-up: the JIT keeps compiling the HTML and codec paths
    // for several queries after the cold runs, and the first timed queries
    // would otherwise read 20-40 % slow
    loop(Main.WarmupS, 1)
    Main.log(s"warm-up ${walls.map(x => f"$x%.3f").mkString(" ")}")
    walls = ArrayBuffer.empty[Double]
    loop(seconds, 3)
    attempted += 1
    try finalCheck(spark) catch { case NonFatal(e) => failed += 1; Main.log(s"final check failed: $e") }
    Measured(walls.toSeq, walls.map(records / _).toSeq, walls.map(docs / _).toSeq,
      attempted, failed, mem)
  }

  def trace(spark: SparkSession, t: Tracer, seconds: Double): Map[String, Double] = {
    def once(): Double = { val t0 = System.nanoTime(); runOnce(spark)(); (System.nanoTime() - t0) / 1e9 }
    once()
    val before = once()
    val sl = new SparkSpans
    val pm = new PlanMetrics
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(pm)
    val root = t.add(0, "run", 0, 0)
    val w0 = t.now
    val check = runOnce(spark)
    val w1 = t.now
    t.spans(t.spans.indexWhere(_.id == root)) = Span(t.run, root, 0, "run", w0, w1)
    sl.drain()
    pm.await(1)
    spark.sparkContext.removeSparkListener(sl)
    spark.listenerManager.unregister(pm)
    check()
    val after = once()
    sl.toSpans(t, root)
    val firstJob = sl.jobStarts.values.map(_._1).minOption.map(_ * 1000000L).getOrElse(w0)
    val lroot = t.add(0, "ledger", 0, 0)
    val l0 = t.now
    val led = ledger(spark, t, lroot)
    t.spans(t.spans.indexWhere(_.id == lroot)) = Span(t.run, lroot, 0, "ledger", l0, t.now)
    val ledgerSelf = t.spans.filter(_.parent == lroot).map(_.durNs).sum / 1e9
    val sm = sl.metrics(w0, w1)
    val kernel = led.getOrElse("ledger.scan_kernel_s", 0.0)
    sm ++ led ++ Map(
      "sources.plan_s" -> math.max(0L, firstJob - w0) / 1e9,
      "sources.partitions" -> sl.scanStagePartitions,
      "sources.warc_records" -> pm.get("warcRecords"),
      "sources.warc_error_rows" -> pm.get("warcErrorRows"),
      "sources.warc_content_bytes" -> pm.get("warcContentBytes"),
      "sinks.records_written" -> pm.get("warcRecordsWritten"),
      "sources.spark_overhead_ratio" -> (if (kernel > 0) sl.scanStageRunS / kernel else 0.0),
      "bench.trace_overhead_ratio" -> (w1 - w0) / 1e9 / ((before + after) / 2),
      "bench.ledger_coverage" -> ledgerSelf / math.max(1e-9, sm("spark.executor_run_s")))
  }
}

/** Single-thread ledger over WARC files: codec, framing, HTTP, row encoding. */
object Ledger {
  def warcFiles(t: Tracer, root: Long, files: Seq[File], schema: StructType,
      acc: scala.collection.mutable.Map[String, Double]): Seq[Array[WarcRecord]] = {
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    files.map { f =>
      val t0 = t.now
      val (bytes, codec) = t.span(root, "core.codec") {
        val (in, c) = WarcCodecs.open(new FileInputStream(f))
        try (in.readAllBytes(), c.name) finally in.close()
      }
      val t1 = t.now
      add(s"codec.$codec.s", (t1 - t0) / 1e9)
      add(s"codec.$codec.mb", bytes.length / 1e6)
      val recs = t.span(root, "core.warc") {
        new WarcParser(new WarcByteReader(new ByteArrayInputStream(bytes)), f.getName,
          WarcParseOptions(parseHttp = false)).toArray
      }
      val t2 = t.now
      val withHttp = t.span(root, "core.http") {
        recs.map(r => if (WarcParser.isHttpRecord(r.headers)) r.copy(http = HttpParser.parse(r.content)) else r)
      }
      val t3 = t.now
      t.span(root, "sources") {
        val enc = new WarcRowEncoder(schema, f.length)
        withHttp.foreach(enc.encode)
      }
      val t4 = t.now
      add("warc.s", (t2 - t1) / 1e9); add("http.s", (t3 - t2) / 1e9); add("encode.s", (t4 - t3) / 1e9)
      add("records", recs.length)
      withHttp
    }
  }

  /** Per-layer metrics of the record path from the accumulated timings. */
  def recordMetrics(t: Tracer, acc: scala.collection.Map[String, Double]): Map[String, Double] = {
    val n = math.max(1.0, acc.getOrElse("records", 0.0))
    def rate(c: String) = {
      val s = acc.getOrElse(s"codec.$c.s", 0.0)
      if (s > 0) acc(s"codec.$c.mb") / s else 0.0
    }
    Map(
      "core.codec.gzip_mb_per_s" -> rate("gzip"),
      "core.codec.lz4_mb_per_s" -> rate("lz4"),
      "core.codec.zstd_mb_per_s" -> rate("zstd"),
      "core.codec.self_s" -> t.selfS("core.codec"),
      "core.warc.ns_per_record" -> acc.getOrElse("warc.s", 0.0) * 1e9 / n,
      "core.warc.self_s" -> t.selfS("core.warc"),
      "core.http.ns_per_record" -> acc.getOrElse("http.s", 0.0) * 1e9 / n,
      "sources.encode_ns_per_record" -> acc.getOrElse("encode.s", 0.0) * 1e9 / n,
      "ledger.scan_kernel_s" -> (acc.filter(_._1.matches("codec\\..*\\.s")).values.sum +
        acc.getOrElse("warc.s", 0.0) + acc.getOrElse("http.s", 0.0) + acc.getOrElse("encode.s", 0.0)))
  }

  def prunedSchema(cols: String*): StructType =
    StructType(cols.map(c => WarcSchema.schema(c)))
}

// — scan —

final class ScanWorkload(c: Corpus.Scan) extends BatchWorkload {
  val records: Long = c.records
  val docs: Long = c.responses

  def runOnce(spark: SparkSession): () => Unit = {
    val rows = spark.read.format("warc").load(c.dir.getPath)
      .select(col("record_type"), coalesce(col("http_status"), lit(-1)).as("status"),
        regexp_extract(coalesce(WarcCols.targetUri(col("headers")), lit("")),
          "^https?://([^/:?#]+)", 1).as("host"),
        col("content_length"), col("error"))
      .groupBy("record_type", "status", "host")
      .agg(count(lit(1)).as("n"), sum("content_length").as("bytes"), count(col("error")).as("errors"))
      .collect()
    () => {
      val errors = rows.map(_.getAs[Long]("errors")).sum
      if (errors != 0) throw new IllegalStateException(s"scan: $errors error rows")
      val got = rows.map(r => (r.getString(0), r.getInt(1), r.getString(2)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("bytes"))).toMap
      if (got != c.expected) {
        val diff = (got.keySet ++ c.expected.keySet).filter(k => got.get(k) != c.expected.get(k)).take(5)
        throw new IllegalStateException(s"scan: aggregates differ from the generator, e.g. " +
          diff.map(k => s"$k got ${got.get(k)} want ${c.expected.get(k)}").mkString("; "))
      }
    }
  }

  def ledger(spark: SparkSession, t: Tracer, root: Long): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
    Ledger.warcFiles(t, root, c.files, Ledger.prunedSchema(
      "record_type", "http_status", "headers", "content_length", "error"), acc)
    Ledger.recordMetrics(t, acc)
  }
}

// — extract —

final class ExtractWorkload(c: Corpus.Extract, work: File) extends BatchWorkload {
  val records: Long = c.pages
  val docs: Long = c.pages
  val MinTokens = 30
  private val out = new File(work, "extract-wet").getPath

  private def pages(spark: SparkSession) =
    spark.read.format("warc").load(c.dir.getPath).where(col("record_type") === "response")

  private def text = Web.extractPlainText(col("http_body"), col("http_charset"), mainContent = true)

  override def prime(seconds: Double): Unit = {
    val pages = Fixture.responses.map { r =>
      val m = HttpParser.parse(r.content).get
      (m.body, m.charset.orNull)
    }
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) pages.foreach { case (body, cs) =>
      val t = graft.html.Html2Text.extractFromHtml(graft.html.HtmlTree.decodeForParse(body, cs),
        graft.html.Html2Text.Options(mainContent = true))
      graft.core.LangDetect.detectFast(t)
    }
  }

  def runOnce(spark: SparkSession): () => Unit = {
    def kv(k: String, v: org.apache.spark.sql.Column) =
      struct(lit(k).as("key"), coalesce(v, lit("")).as("value"))
    pages(spark)
      .select(col("record_id"), col("record_date"), WarcCols.targetUri(col("headers")).as("uri"),
        text.as("text"))
      .withColumn("lang", Web.detectLang(col("text")).getField("lang"))
      .where(TextAnalysis.tokenCount(col("text")) >= MinTokens &&
        array_max(TextAnalysis.blocklistCounts(col("text"), Corpus.Blocklist)) === 0L)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .dropDuplicates("fp")
      .select(lit("conversion").as("record_type"),
        concat(lit("<urn:md5:"), col("fp"), lit(">")).as("record_id"), col("record_date"),
        array(kv("WARC-Target-URI", col("uri")), kv("WARC-Refers-To", col("record_id")),
          kv("Content-Type", lit("text/plain")),
          kv("WARC-Identified-Content-Language", col("lang"))).as("headers"),
        encode(col("text"), "UTF-8").as("content"))
      .write.format("warc").option("compression", "gzip").mode("overwrite").save(out)
    () => {
      val back = spark.read.format("warc").load(out)
        .agg(count(lit(1)), countDistinct(md5(col("content")))).head()
      if (back.getLong(0) != c.survivors || back.getLong(1) != c.survivors)
        throw new IllegalStateException(s"extract: WET archive has ${back.getLong(0)} records, " +
          s"${back.getLong(1)} distinct; generator expects ${c.survivors}")
    }
  }

  override def finalCheck(spark: SparkSession): Unit = {
    val r = pages(spark).select(TextAnalysis.fingerprint(text).as("fp"))
      .agg(count(lit(1)), countDistinct(col("fp"))).head()
    if (r.getLong(0) != c.pages || r.getLong(1) != c.uniques)
      throw new IllegalStateException(s"extract: ${r.getLong(0)} pages / ${r.getLong(1)} " +
        s"fingerprints; generator made ${c.pages} / ${c.uniques}")
  }

  def ledger(spark: SparkSession, t: Tracer, root: Long): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
    val parsed = Ledger.warcFiles(t, root, c.dir.listFiles().filter(_.getName.endsWith(".gz")).sorted.toSeq,
      Ledger.prunedSchema("record_id", "record_date", "headers", "http_body", "http_charset"), acc)
    val tokens = new Kernel(spark, TextAnalysis.tokenCount)
    val block = new Kernel(spark, x => TextAnalysis.blocklistCounts(x, Corpus.Blocklist))
    val fpK = new Kernel(spark, TextAnalysis.fingerprint)
    val seen = scala.collection.mutable.Set.empty[String]
    val wetOut = new java.io.ByteArrayOutputStream(1 << 20)
    val writer = new WarcWriter.RecordStreamWriter(wetOut, WarcWriter.Gzip)
    val allTexts = ArrayBuffer.empty[String]
    var htmlBytes = 0L
    var wetBytes = 0L
    var n = 0
    def timed[T](k: String, name: String)(f: => T): T = {
      val t0 = t.now
      val r = t.span(root, name)(f)
      acc(k) = acc.getOrElse(k, 0.0) + (t.now - t0) / 1e9
      r
    }
    parsed.foreach { p =>
      val resp = p.filter(r => r.recordType == "response" && r.http.isDefined)
      n += resp.length
      val html = timed("enc", "core.encodings") {
        resp.map(r => graft.html.HtmlTree.decodeForParse(r.http.get.body, r.http.get.charset.orNull))
      }
      htmlBytes += resp.map(_.http.get.body.length.toLong).sum
      val texts = timed("html", "html") {
        html.map(h => graft.html.Html2Text.extractFromHtml(h,
          graft.html.Html2Text.Options(mainContent = true)))
      }
      allTexts ++= texts
      val langs = timed("lang", "core.lang")(texts.map(x => graft.core.LangDetect.detectFast(x)._1))
      val nTok = timed("tokens", "functions.tokens")(texts.map(x => tokens(x).getLong(0)))
      val blocked = timed("block", "functions.blocklist") {
        texts.map { x => val a = block(x).getArray(0); (0 until a.numElements()).exists(a.getLong(_) > 0) }
      }
      val fps = timed("fp", "functions.fingerprint")(texts.map(x => fpK(x).getUTF8String(0).toString))
      timed("write", "core.writer") {
        resp.indices.foreach { i =>
          if (nTok(i) >= MinTokens && !blocked(i) && seen.add(fps(i))) {
            val b = texts(i).getBytes("UTF-8")
            wetBytes += b.length
            writer.write(WarcWriter.buildRecord("conversion", b,
              targetUri = resp(i).headers.get("WARC-Target-URI"),
              extraHeaders = Seq("WARC-Identified-Content-Language" -> langs(i))))
          }
        }
      }
    }
    writer.finishCodecs()
    // The MinHash kernel of SparkEntry's d11 near-duplicate query over the
    // same texts. It is not on this query's path, so its span has a root of
    // its own and stays out of bench.ledger_coverage.
    val mroot = t.add(0, "off-path", 0, 0)
    val minhash = new Kernel(spark, x => TextAnalysis.minhashShingleSigCW(x, 3, 8))
    val m0 = t.now
    t.span(mroot, "functions.minhash")(allTexts.foreach(x => minhash(x)))
    val m1 = t.now
    t.spans(t.spans.indexWhere(_.id == mroot)) = Span(t.run, mroot, 0, "off-path", m0, m1)
    val docs = math.max(1, n).toDouble
    Ledger.recordMetrics(t, acc) ++ Map(
      "functions.minhash_us_per_doc" -> (m1 - m0) / 1e3 / math.max(1, allTexts.length),
      "core.encodings.us_per_doc" -> acc("enc") * 1e6 / docs,
      "html.us_per_doc" -> acc("html") * 1e6 / docs,
      "html.mb_per_s" -> htmlBytes / 1e6 / acc("html"),
      "core.lang.us_per_doc" -> acc("lang") * 1e6 / docs,
      "functions.tokens_us_per_doc" -> acc("tokens") * 1e6 / docs,
      "functions.blocklist_us_per_doc" -> acc("block") * 1e6 / docs,
      "core.writer.mb_per_s" -> wetBytes / 1e6 / acc("write"))
  }
}

// — neardup —

final class NeardupWorkload(c: Corpus.Neardup) extends BatchWorkload {
  val records: Long = c.docs
  val docs: Long = c.docs
  @volatile private var digest: String = null

  private def run(spark: SparkSession): Array[Row] =
    graft.SparkEntry.queries("d11_neardup_clusters")(spark, c.dir.getPath).collect()

  private def digestOf(rows: Array[Row]): String =
    Warc.md5Hex(rows.map(_.mkString("|")).mkString("\n").getBytes("UTF-8"))

  def runOnce(spark: SparkSession): () => Unit = {
    val rows = run(spark)
    () => {
      val label = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      c.exactClusters.foreach { m =>
        val ls = m.map(label.get).distinct
        if (ls.length != 1 || ls.head.isEmpty)
          throw new IllegalStateException(s"neardup: exact-copy cluster ${m.take(4)} split into $ls")
      }
      val d = digestOf(rows)
      if (digest == null) digest = d
      else if (d != digest) throw new IllegalStateException("neardup: result digest changed between runs")
    }
  }

  override def finalCheck(spark: SparkSession): Unit = {
    val before = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val d = try digestOf(run(spark))
      finally before match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    if (digest != null && d != digest)
      throw new IllegalStateException("neardup: digest differs at 7 shuffle partitions")
  }

  def ledger(spark: SparkSession, t: Tracer, root: Long): Map[String, Double] = {
    val texts = spark.read.parquet(new File(c.dir, "documents.parquet").getPath)
      .select("text").collect().map(_.getString(0))
    val tokens = new Kernel(spark, TextAnalysis.tokenCount)
    val minhash = new Kernel(spark, x => TextAnalysis.minhashShingleSigCW(x, 3, 8))
    val n = math.max(1, texts.length).toDouble
    def timed(name: String)(f: => Unit): Double = {
      val t0 = t.now; t.span(root, name)(f); (t.now - t0) / 1e9
    }
    val tok = timed("functions.tokens")(texts.foreach(x => tokens(x)))
    val mh = timed("functions.minhash")(texts.foreach(x => minhash(x)))
    Map("functions.tokens_us_per_doc" -> tok * 1e6 / n, "functions.minhash_us_per_doc" -> mh * 1e6 / n)
  }
}

// — stream —

/** Latency and progress bookkeeping from the engine's query listener. */
final class Commits extends StreamingQueryListener {
  val committedAt = scala.collection.concurrent.TrieMap.empty[String, Long]
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    progress.add((now, e.progress))
    e.progress.sources.headOption.map(_.endOffset).filter(_ != null).foreach { json =>
      val it = mapper.readTree(json).path("files").elements()
      while (it.hasNext) {
        val p = it.next().asText()
        committedAt.putIfAbsent(p.substring(p.lastIndexOf('/') + 1), now)
      }
    }
  }

  def since(t: Long): Seq[StreamingQueryProgress] = {
    import scala.jdk.CollectionConverters._
    progress.asScala.toSeq.filter(_._1 >= t).map(_._2)
  }
}

final class StreamWorkload(c: Corpus.Stream, work: File) extends Workload {
  private def start(spark: SparkSession, tag: String, landing: File): (StreamingQuery, File) = {
    val out = new File(work, s"stream-out-$tag")
    // One state-store partition per core instead of the default 200: at
    // 200, each micro-batch spends about 10 s loading and committing 200
    // state stores on a 4-core host, so no landing schedule fits a run.
    // The count is fixed into the checkpoint when the query first starts.
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    val q = spark.readStream.format("warc").load(landing.getPath)
      .where(col("record_type") === "response")
      .select(col("record_type"), col("record_id"), col("record_date"), col("headers"),
        col("content"), col("warc_version"), md5(col("http_body")).as("fp"))
      .withWatermark("record_date", s"${Corpus.WatermarkS} seconds")
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")
      .writeStream
      .foreachBatch(graft.streaming.ExactlyOnce.warcBatchWriter(out.getPath))
      .option("checkpointLocation", new File(work, s"stream-ckpt-$tag").getPath)
      .start()
    (q, out)
  }

  private def kept(spark: SparkSession, out: File): Map[String, Int] =
    spark.read.format("warc").load(new File(out, "batch-*").getPath)
      .select(md5(col("http_body"))).collect().map(_.getString(0))
      .groupMapReduce(identity)(_ => 1)(_ + _)

  def cold(spark: SparkSession): Unit = {
    val landing = Gen.dir(work, "stream-cold")
    c.warm.take(Main.WarmFirst).foreach(l => Files.copy(l.file.toPath, new File(landing, l.name).toPath))
    val (q, _) = start(spark, "cold", landing)
    try q.processAllAvailable() finally q.stop()
  }

  /** Land every file on its schedule. Returns the counted landings'
    * latencies (s, None when never committed), the generator's worst
    * lateness (s), the listener, the running query, its output directory
    * and when the second half of the counted landings began.
    */
  private def window(spark: SparkSession, beforeStart: () => Unit, onHalf: () => Unit)
      : (Seq[Option[Double]], Double, Commits, StreamingQuery, File, Long) = {
    val commits = new Commits
    spark.streams.addListener(commits)
    beforeStart()
    val (q, out) = start(spark, "timed", c.landing)
    val (first, rest) = c.warm.splitAt(Main.WarmFirst)
    first.foreach(l => Files.move(l.file.toPath, new File(c.landing, l.name).toPath,
      StandardCopyOption.ATOMIC_MOVE))
    q.processAllAvailable()
    // the remaining warm-up files land on the same schedule as the
    // counted ones, so counting starts in the stream's steady state
    val rate = Corpus.landingsPerSecond
    val t0 = System.nanoTime() + 200000000L
    val all = rest ++ c.landings
    val due = all.indices.map(i => t0 + (i * 1e9 / rate).toLong)
    var lag = 0L
    var halfAt = Long.MaxValue
    all.zip(due).zipWithIndex.foreach { case ((l, d), i) =>
      if (i == rest.length + c.landings.length / 2) { onHalf(); halfAt = System.nanoTime() }
      val wait = d - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Files.move(l.file.toPath, new File(c.landing, l.name).toPath, StandardCopyOption.ATOMIC_MOVE)
      lag = math.max(lag, System.nanoTime() - d)
    }
    val deadline = System.nanoTime() + 30000000000L
    while (c.landings.exists(l => !commits.committedAt.contains(l.name)) && System.nanoTime() < deadline &&
        q.isActive)
      Thread.sleep(20)
    val lat = c.landings.zip(due.drop(rest.length)).map { case (l, d) =>
      commits.committedAt.get(l.name).map(x => (x - d) / 1e9)
    }
    (lat, lag / 1e9, commits, q, out, halfAt)
  }

  /** Checks the kept set once the query has stopped. */
  private def finish(spark: SparkSession, out: File, commits: Commits): Boolean = {
    val ps = commits.since(Long.MinValue).filter(_.numInputRows > 0)
    Main.log(f"stream: ${ps.length} data batches, median trigger " +
      f"${Stats.median(ps.map(_.durationMs.get("triggerExecution").doubleValue) :+ 0.0)}%.0f ms; " +
      "files/trigger ms per batch " + ps.map(p => s"${p.numInputRows / Corpus.PagesPerLanding}/" +
        p.durationMs.get("triggerExecution")).mkString(" "))
    spark.streams.removeListener(commits)
    val got = kept(spark, out)
    if (got != c.expectedKept) {
      Main.log(s"stream: kept ${got.values.sum} pages (${got.size} distinct), generator expects " +
        s"${c.expectedKept.values.sum} (${c.expectedKept.size} distinct)")
      false
    } else true
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val (lat, lag, commits, q, out, _) = window(spark, () => (), () => ())
    // taken once the query has stopped: while it runs, whether a
    // micro-batch is in flight at the collection moved the figure by 20 %
    q.stop()
    val mem = Stats.heapAfterGcMb()
    val ok = try finish(spark, out, commits) catch { case NonFatal(e) => Main.log(s"stream check: $e"); false }
    Main.log(f"stream: generator lag ${lag}%.4f s")
    val done = lat.flatten
    if (done.isEmpty) throw new IllegalStateException("stream: no landing was committed")
    // a rate the stream sustains keeps the latency flat through the window
    val quarter = math.max(1, done.length / 4)
    Main.log(f"stream: ${Corpus.landingsPerSecond}%.1f files/s, median latency " +
      f"${Stats.median(done.take(quarter))}%.3f s over the first quarter of landings, " +
      f"${Stats.median(done.takeRight(quarter))}%.3f s over the last")
    // pages per second from the first due landing to the last commit
    val pages = c.landings.length * Corpus.PagesPerLanding
    val span = (c.landings.length - 1) / Corpus.landingsPerSecond + done.last
    Measured(done, Seq(pages / span), Seq(pages / span), lat.length + 1,
      lat.count(_.isEmpty) + (if (ok) 0 else 1), mem)
  }

  def trace(spark: SparkSession, t: Tracer, seconds: Double): Map[String, Double] = {
    val sl = new SparkSpans
    val pm = new PlanMetrics
    // the query runs on a clone of the session that copies its execution
    // listeners when it starts, so the plan-metrics listener goes in first
    // and is zeroed when the traced half begins
    val (lat, lag, commits, q, out, halfAt) = window(spark, () => spark.listenerManager.register(pm),
      () => { spark.sparkContext.addSparkListener(sl); pm.reset() })
    val end = System.nanoTime()
    sl.drain()
    spark.sparkContext.removeSparkListener(sl)
    spark.listenerManager.unregister(pm)
    q.stop()
    if (!finish(spark, out, commits))
      throw new IllegalStateException("stream: kept set differs from the generator")
    val epoch = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val root = t.add(0, "run", halfAt + epoch, end + epoch)
    sl.toSpans(t, root)
    def data(ps: Seq[StreamingQueryProgress]) = ps.filter(_.numInputRows > 0)
    val traced = data(commits.since(halfAt))
    val untraced = data(commits.since(Long.MinValue)).filterNot(traced.contains)
    traced.foreach { p =>
      val e = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      t.add(root, "streaming.batch", e, e + p.durationMs.get("triggerExecution").longValue * 1000000L)
    }
    def med(ps: Seq[StreamingQueryProgress], k: String): Double =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val files = c.landings.drop(c.landings.length / 2).map(l => new File(c.landing, l.name))
    val lroot = t.add(0, "ledger", 0, 0)
    val l0 = t.now
    val acc = scala.collection.mutable.Map.empty[String, Double]
    val parsed = Ledger.warcFiles(t, lroot, files, Ledger.prunedSchema("record_type", "record_id",
      "record_date", "headers", "content", "warc_version", "http_body"), acc)
    val wet = new java.io.ByteArrayOutputStream(1 << 20)
    val writer = new WarcWriter.RecordStreamWriter(wet, WarcWriter.Gzip)
    val w0 = t.now
    val wetBytes = parsed.map(_.map(_.content.length.toLong).sum).sum
    t.span(lroot, "core.writer") { parsed.foreach(_.foreach(writer.write)); writer.finishCodecs() }
    val ws = (t.now - w0) / 1e9
    t.spans(t.spans.indexWhere(_.id == lroot)) = Span(t.run, lroot, 0, "ledger", l0, t.now)
    val ledgerSelf = t.spans.filter(_.parent == lroot).map(_.durNs).sum / 1e9
    val sm = sl.metrics(halfAt + epoch, end + epoch)
    val state = traced.lastOption.flatMap(_.stateOperators.headOption)
    val rec = Ledger.recordMetrics(t, acc)
    sm ++ rec ++ Map(
      "sources.warc_records" -> pm.get("warcRecords"),
      "sources.warc_error_rows" -> pm.get("warcErrorRows"),
      "sources.warc_content_bytes" -> pm.get("warcContentBytes"),
      "sources.partitions" -> sl.scanStagePartitions,
      "sources.spark_overhead_ratio" -> sl.scanStageRunS / math.max(1e-9, rec("ledger.scan_kernel_s")),
      "sinks.records_written" -> pm.get("warcRecordsWritten"),
      "core.writer.mb_per_s" -> wetBytes / 1e6 / ws,
      "streaming.trigger_ms" -> med(traced, "triggerExecution"),
      "streaming.latest_offset_ms" -> med(traced, "latestOffset"),
      "streaming.query_planning_ms" -> med(traced, "queryPlanning"),
      "streaming.add_batch_ms" -> med(traced, "addBatch"),
      "streaming.wal_commit_ms" -> med(traced, "walCommit"),
      "streaming.commit_offsets_ms" -> med(traced, "commitOffsets"),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mem_mb" -> state.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.state_commit_ms" -> (if (traced.isEmpty) 0.0
        else Stats.median(traced.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))),
      "streaming.files_per_batch" -> (if (traced.isEmpty) 0.0
        else Stats.median(traced.map(_.numInputRows.toDouble / Corpus.PagesPerLanding))),
      "bench.generator_lag_s" -> lag,
      "bench.trace_overhead_ratio" ->
        (if (untraced.isEmpty) 0.0 else med(traced, "triggerExecution") / med(untraced, "triggerExecution")),
      "bench.ledger_coverage" -> ledgerSelf / math.max(1e-9, sm("spark.executor_run_s")))
  }
}
