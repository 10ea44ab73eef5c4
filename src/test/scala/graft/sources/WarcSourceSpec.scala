package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Spark-level contract of `spark.read.format("warc")`: schema, codec
  * auto-detect, pushdown options, column pruning, and raw-file range
  * splitting (split ownership by record start offset).
  */
class WarcSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val DataDir = graft.sources.BenchCorpus.FixtureDir
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("warc-source-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("scan reads 50 records from every codec variant") {
    for (f <- Seq("warcfile.warc", "warcfile.warc.gz", "warcfile.warc.lz4")) {
      assert(spark.read.format("warc").load(s"$DataDir/$f").count() == 50L, f)
    }
  }

  test("schema exposes the full WARC row") {
    val df = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
    val names = df.schema.fieldNames.toSeq
    assert(names.contains("record_type") && names.contains("headers") &&
      names.contains("http_status") && names.contains("content") &&
      names.contains("block_digest_ok") && names.contains("error"))
  }

  test("catalyst filter on record_type returns exactly the responses") {
    val n = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .filter("record_type = 'response'").count()
    assert(n == 16L)
  }

  test("record_types option prunes at the parser") {
    val n = spark.read.format("warc").option("record_types", "request,metadata")
      .load(s"$DataDir/warcfile.warc").count()
    assert(n == 33L) // 17 requests + 16 metadata
  }

  test("envelope-only projection still yields correct lengths") {
    import org.apache.spark.sql.functions._
    val total = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .agg(sum("content_length")).head.getLong(0)
    assert(total == 527846L)
  }

  test("raw files split into byte-range partitions without losing records") {
    val df = spark.read.format("warc")
      .option("max_partition_bytes", 64 * 1024) // force ~9 splits of 550KB
      .load(s"$DataDir/warcfile.warc")
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() == 50L)
    // identical offsets to the unsplit read (no dup, no loss at boundaries)
    val split = df.select("offset").collect().map(_.getLong(0)).sorted.toSeq
    val whole = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(split == whole)
  }

  test("compressed files never split (start>0 ranges yield nothing twice)") {
    val df = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(s"$DataDir/warcfile.warc.gz")
    assert(df.count() == 50L)
  }

  test("version column and header predicates") {
    import graft.functions.WarcCols
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
    assert(df.filter(WarcCols.isWarc10(col("warc_version"))).count() == 50L)
    assert(df.filter(WarcCols.isWarc11(col("warc_version"))).count() == 0L)
    assert(df.filter(WarcCols.hasBlockDigest(col("headers"))).count() == 16L)
    assert(df.filter(WarcCols.hasPayloadDigest(col("headers"))).count() == 16L)
    assert(df.filter(WarcCols.isConcurrent(col("headers"))).count() == 32L) // 16 resp + 16 meta
  }

  test("member-indexed gzip archives split into parallel partitions") {
    import graft.core._
    // build a member-per-record archive + its compressed-offset index
    val (in, _) = WarcCodecs.open(
      new java.io.FileInputStream(s"$DataDir/warcfile.warc"))
    val recs = try new WarcParser(new WarcByteReader(in), "m",
      WarcParseOptions()).toVector finally in.close()
    val dir = java.nio.file.Files.createTempDirectory("member-split")
    val gz = dir.resolve("indexed.warc.gz")
    val out = java.nio.file.Files.newOutputStream(gz)
    val w = new WarcWriter.RecordStreamWriter(out, WarcWriter.Gzip)
    val offsets = recs.map(w.write)
    w.close()
    val idx = dir.resolve("members.jsonl")
    java.nio.file.Files.write(idx, offsets.map(o =>
      s"""{"filename": "${gz.toString}", "offset": $o}""").mkString("\n").getBytes)

    val df = spark.read.format("warc")
      .option("member_index", idx.toString)
      .option("max_partition_bytes", 16 * 1024) // force many slices
      .load(gz.toString)
    assert(df.rdd.getNumPartitions > 1, "expected parallel member slices")
    assert(df.count() == 50L)
    // offsets are COMPRESSED member coordinates == the writer's log
    val got = df.select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == offsets.sorted)
    // and each is point-lookup seekable
    val lookedUp = WarcPointLookup.extract(gz.toString, got(10))
    assert(lookedUp.isDefined)
    // without the index: unsplittable, same records, decompressed offsets
    val plain = spark.read.format("warc").load(gz.toString)
    assert(plain.count() == 50L)
  }

  test("standard CDXJ (surt+timestamp prefix, STRING offsets, sparse " +
      "captures-only index) drives a complete parallel scan") {
    import graft.core._
    val (in, _) = WarcCodecs.open(
      new java.io.FileInputStream(s"$DataDir/warcfile.warc"))
    val recs = try new WarcParser(new WarcByteReader(in), "m",
      WarcParseOptions()).toVector finally in.close()
    val dir = java.nio.file.Files.createTempDirectory("cdxj-split")
    val gz = dir.resolve("foreign.warc.gz")
    val out = java.nio.file.Files.newOutputStream(gz)
    val w = new WarcWriter.RecordStreamWriter(out, WarcWriter.Gzip)
    val offsets = recs.map(w.write)
    w.close()
    // a pywb-style CDXJ: searchable-URL + timestamp lead fields, offset
    // as a JSON STRING, one line per indexed capture only (every third
    // member, never the first) — the archive's own index, not ours
    val sparse = offsets.zipWithIndex.collect {
      case (o, i) if i % 3 == 2 => o
    }
    assert(!sparse.contains(0L))
    val cdxj = dir.resolve("foreign.cdxj")
    java.nio.file.Files.write(cdxj, sparse.map(o =>
      s"""org,example)/p$o 20230101000000 {"url": "http://example.org/p$o", """ +
        s""""filename": "${gz.toString}", "offset": "$o", "status": "200"}""")
      .mkString("\n").getBytes)

    val df = spark.read.format("warc")
      .option("member_index", cdxj.toString)
      .option("max_partition_bytes", 16 * 1024)
      .load(gz.toString)
    assert(df.rdd.getNumPartitions > 1, "expected parallel member slices")
    // COMPLETE scan: unindexed members (including the file head before
    // the first indexed capture) ride in their slice
    val plain = spark.read.format("warc").load(gz.toString)
    assert(df.count() == 50L)
    import org.apache.spark.sql.functions._
    val a = df.agg(sum(col("content_length"))).head.getLong(0)
    val b = plain.agg(sum(col("content_length"))).head.getLong(0)
    assert(a == b, s"indexed scan content bytes $a != plain $b")
  }

  test("headers column preserves order and duplicate keys") {
    import org.apache.spark.sql.functions._
    val row = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .filter("record_type = 'warcinfo'")
      .select(expr("filter(headers, h -> lower(h.key) = 'content-type')[0].value"))
      .head
    assert(row.getString(0) == "application/warc-fields")
  }

  test("clipped archive yields rows with error set instead of failing the job") {
    val recs = spark.read.format("warc").load(s"$DataDir/clipped.warc.gz")
      .select("error").collect().map(r => Option(r.getString(0)))
    assert(recs.nonEmpty)
    assert(recs.flatten.exists(_.contains("truncated")))
  }

  test("a missing path or an empty glob fails the batch scan with PATH_NOT_FOUND") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_missing")
    try {
      for (p <- Seq(s"$tmp/nonexistent", s"$tmp/*.warc.gz")) {
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          spark.read.format("warc").load(p).count()
        }
        assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
        assert(e.getMessage.contains(p.stripPrefix("/")), e.getMessage)
      }
      // one missing path among existing ones still fails the whole scan
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.read.format("warc").load(s"$DataDir/warcfile.warc", s"$tmp/nonexistent").count()
      }
    } finally java.nio.file.Files.delete(tmp)
  }

  test("an existing empty directory is an empty scan, not an error") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty")
    try assert(spark.read.format("warc").load(tmp.toString).count() == 0L)
    finally java.nio.file.Files.delete(tmp)
  }

  test("mid-stream decompression corruption yields a terminal error row, not a task failure") {
    // damage the middle of the gzip and LZ4 fixtures: records before the
    // damage scan normally; the stream error becomes ONE error row.
    // (Bit flips inside LZ4 literal data decode to garbage the parser
    // legitimately RESYNCS past — the fixture's frames carry no
    // checksums — so the LZ4 case corrupts frame STRUCTURE instead: an
    // impossible block-size field in a mid-file frame header.)
    val tmp = java.nio.file.Files.createTempDirectory("graft_corrupt")
    val lz4Magic = Array[Byte](0x04, 0x22, 0x4d, 0x18)
    for ((src, name) <- Seq(
        graft.sources.BenchCorpus.FixtureGz -> "bad.warc.gz",
        graft.sources.BenchCorpus.FixtureLz4 -> "bad.warc.lz4")) {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src))
      if (name.endsWith(".lz4")) {
        // find a frame magic past the midpoint; clobber its first
        // block-size field (frame header = magic 4 + FLG/BD/HC 3)
        var at = bytes.length / 2
        while (!bytes.startsWith(lz4Magic, at)) at += 1
        val sz = at + 7
        bytes(sz) = 0xff.toByte; bytes(sz + 1) = 0xff.toByte
        bytes(sz + 2) = 0xff.toByte; bytes(sz + 3) = 0x7f.toByte
      } else {
        var i = bytes.length / 2
        while (i < bytes.length / 2 + 64) { bytes(i) = (bytes(i) ^ 0x55).toByte; i += 1 }
      }
      java.nio.file.Files.write(tmp.resolve(name), bytes)
      val rows = spark.read.format("warc").load(tmp.resolve(name).toString)
        .select("record_type", "error").collect()
      val errs = rows.flatMap(r => Option(r.getString(1)))
      assert(rows.length > 1, s"$name: healthy prefix records expected")
      assert(errs.exists(e => e.contains("stream error") || e.contains("truncated")),
        s"$name: got errors ${errs.toSeq}")
    }
  }

  test("plain http:// archive URLs stream through the scan") {
    // local HTTP server over the fixture bytes — the Common-Crawl-over-
    // HTTPS ingestion shape (cli.py:291-348) without network egress
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/cc/warcfile.warc.gz",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, bytes.length.toLong)
        try ex.getResponseBody.write(bytes) finally ex.close()
      })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/cc/warcfile.warc.gz"
      val df = spark.read.format("warc").load(url)
      assert(df.count() == 50L)
      val types = df.groupBy("record_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(types("response") == 16L)
    } finally server.stop(0)
  }

  test("scan reads through a registered object-store scheme (s3a stand-in)") {
    // the s3a:// mapping cannot be exercised offline; a registered
    // testfs:// scheme (TestObjectStoreFs, RawLocalFileSystem-backed)
    // proves the scan's FileSystem abstraction end to end: URI
    // resolution, glob listing, open/seek, codec sniffing
    spark.sparkContext.hadoopConfiguration.set(
      "fs.testfs.impl", classOf[TestObjectStoreFs].getName)
    val df = spark.read.format("warc").load(s"testfs://$DataDir/warcfile.warc.gz")
    assert(df.count() == 50L)
    assert(df.filter("record_type = 'response'").count() == 16L)
    // glob through the scheme as well (MatchFiles semantics)
    val g = spark.read.format("warc").load(s"testfs://$DataDir/warcfile.warc.{gz,lz4}")
    assert(g.count() == 100L)
  }

  test("point reads go through the Hadoop FileSystem for non-local " +
      "schemes: resolvePointReads over testfs:// extracts every member " +
      "of gzip AND trained-dict zstd archives") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.testfs.impl", classOf[TestObjectStoreFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("pointfs")
    // member-per-record gzip + writer-reported offsets
    val (gzPath, gzOffs) = BenchCorpus.ensureMemberArchive(dir.toString)
    // trained-dictionary zstd: mid-archive members decode only against
    // the head dictionary — the probe must happen through the FS too
    val dicted = dir.resolve("dict.warc.zst")
    locally {
      val o = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(dicted.toFile))
      try graft.core.WarcWriter.recompressZstdTrained(
        () => new java.io.FileInputStream(BenchCorpus.FixtureGz), o)
      finally o.close()
    }
    val zOffs = graft.core.MemberIndex.scan(
      new java.io.FileInputStream(dicted.toFile)).offsets
    assert(zOffs.size == 50)
    val sp = spark
    import sp.implicits._
    for ((p, offs) <- Seq((gzPath, gzOffs), (dicted.toString, zOffs))) {
      val hits = sp.createDataset(
        offs.map(off => ("", s"testfs://$p", off)))
      val res = graft.queries.Warc.resolvePointReads(hits)
      assert(res.filter(org.apache.spark.sql.functions.col("content_length") >= 0)
        .count() == 50L, p)
      assert(res.agg(org.apache.spark.sql.functions.sum("content_length"))
        .head.getLong(0) == 527846L, p)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("s3:// inputs: rewritten to the s3a connector unless the " +
      "deployment bound fs.s3.impl, which is then used verbatim") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    // no fs.s3.impl: the reference-style s3:// URL routes to s3a
    assert(WarcInput.normalizeScheme("s3://bucket/crawl/a.warc.gz", conf) ==
      "s3a://bucket/crawl/a.warc.gz")
    // other schemes untouched
    assert(WarcInput.normalizeScheme("s3a://b/k", conf) == "s3a://b/k")
    assert(WarcInput.normalizeScheme("file:///x.warc", conf) == "file:///x.warc")
    conf.set("fs.s3.impl", classOf[S3SchemeTestFs].getName)
    assert(WarcInput.normalizeScheme("s3://bucket/k", conf) == "s3://bucket/k")
    // end-to-end through a bound fs.s3.impl: the scan reads s3:// verbatim
    spark.sparkContext.hadoopConfiguration.set(
      "fs.s3.impl", classOf[S3SchemeTestFs].getName)
    try {
      val df = spark.read.format("warc").load(s"s3://$DataDir/warcfile.warc.gz")
      assert(df.count() == 50L)
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.s3.impl")
  }

  test("stream_retries: first read attempt dies mid-payload through the " +
      "FS layer; the scan resumes and returns all records, zero error rows") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakyfs.impl", classOf[FlakyObjectStoreFs].getName)
    try {
      FlakyObjectStoreFs.reset()
      val df = spark.read.format("warc")
        .option("stream_retries", "3")
        .load(s"flakyfs://$DataDir/warcfile.warc.gz")
        .select("record_id", "record_type", "content_length", "error")
      val rows = df.collect()
      assert(rows.length == 50, s"expected all 50 records, got ${rows.length}")
      assert(rows.forall(_.isNullAt(3)), "no error rows after a successful resume")
      // the flaky double really fired: the path was opened at least twice
      // (dead first attempt + clean resume)
      assert(FlakyObjectStoreFs.opensOf(s"$DataDir/warcfile.warc.gz") >= 2)
      // resume skips duplicates: ids are exactly the clean scan's
      val clean = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
        .select("record_id").collect().map(_.getString(0)).sorted.toSeq
      assert(rows.map(_.getString(0)).sorted.toSeq == clean)
      // control: WITHOUT stream_retries the same flaky read surfaces the
      // death as a terminal error row (exc_loop doctrine), not a resume
      FlakyObjectStoreFs.reset()
      val noRetry = spark.read.format("warc")
        .load(s"flakyfs://$DataDir/warcfile.warc.gz")
        .select("error").collect()
      assert(noRetry.exists(!_.isNullAt(0)), "stream death must surface in `error`")
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.flakyfs.impl")
  }

  test("member-indexed scan over a flaky store: a dropped connection is " +
      "retried with a fresh handle from the failing member — all records, " +
      "zero error rows, zero duplicates") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakyfs.impl", classOf[FlakyObjectStoreFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("flaky-member")
    try {
      // member-per-record archive + sidecar so the scan plans IdxSlice
      // partitions; large enough that the death point (100 KB raw) lands
      // mid-scan for the head partition
      val (gzPath, offs) = BenchCorpus.ensureMemberArchive(dir.toString)
      java.nio.file.Files.write(dir.resolve("members.warc.gz.idx"),
        offs.map(o => s"""{"filename": "members.warc.gz", "offset": $o}""")
          .mkString("\n").getBytes("UTF-8"))
      FlakyObjectStoreFs.reset()
      // two deaths at increasing points: the productive-flaky remote
      FlakyObjectStoreFs.schedule = Seq(60000L, 90000L)
      val rows = spark.read.format("warc")
        .option("max_partition_bytes", 16 * 1024) // force IdxSlice partitions
        .load(s"flakyfs://$gzPath")
        .select("record_id", "error").collect()
      assert(rows.length == 50, s"expected 50 records, got ${rows.length}")
      assert(rows.forall(_.isNullAt(1)),
        "transient deaths must be retried, not degraded to error rows")
      assert(rows.map(_.getString(0)).distinct.length == 50,
        "retry must not replay records")
      assert(FlakyObjectStoreFs.opensOf(gzPath) >= 3,
        "the retry did not re-open the file")
      // control: PERSISTENT corruption still degrades (error row +
      // resume) once retries are exhausted — rewrite a member's deflate
      // body and scan locally (no flakiness)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(gzPath))
      val corrupt = dir.resolve("corrupt.warc.gz")
      val mangled = bytes.clone()
      val mid = (offs(20) + 25).toInt
      mangled(mid) = (mangled(mid) ^ 0x5a).toByte
      java.nio.file.Files.write(corrupt, mangled)
      java.nio.file.Files.write(dir.resolve("corrupt.warc.gz.idx"),
        offs.map(o => s"""{"filename": "corrupt.warc.gz", "offset": $o}""")
          .mkString("\n").getBytes("UTF-8"))
      val dmg = spark.read.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .load(corrupt.toString)
        .select("record_id", "error").collect()
      assert(dmg.exists(!_.isNullAt(1)),
        "persistent damage must still surface as an error row")
      assert(dmg.count(_.isNullAt(1)) == 49,
        "healthy members must all survive the damaged one")
    } finally {
      spark.sparkContext.hadoopConfiguration.unset("fs.flakyfs.impl")
      FlakyObjectStoreFs.reset()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("scan custom metrics: record/error/byte counters land on the " +
      "BatchScan node (the Spark-UI data-quality surface)") {
    def metricsOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
        .get
      scan.metrics.map { case (k, m) => k -> m.value }.toMap
    }
    val clean = metricsOf(spark.read.format("warc")
      .load(s"$DataDir/warcfile.warc.gz"))
    assert(clean("warcRecords") == 50L, clean)
    assert(clean("warcErrorRows") == 0L, clean)
    assert(clean("warcContentBytes") > 500000L, clean)
    // clipped archive: both rows (the truncated record + the stream-end
    // report) surface in the error metric
    val clipped = metricsOf(spark.read.format("warc")
      .load(s"$DataDir/clipped.warc.gz"))
    assert(clipped("warcErrorRows") == 2L, clipped)
    // envelope-only projection: payloads are never materialized and the
    // byte counter shows it (the pruning proof as a metric)
    val envDf = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_type", "offset")
    val env = metricsOf(envDf)
    assert(env("warcRecords") == 50L, env)
    assert(env("warcContentBytes") == 0L, env)
  }

  test("stream_retries: three successive mid-stream deaths at increasing " +
      "offsets — every reopen seeks past the last good record and the " +
      "fourth attempt completes the archive") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakyfs.impl", classOf[FlakyObjectStoreFs].getName)
    try {
      FlakyObjectStoreFs.reset()
      // productive-flaky: each reopened stream survives further into the
      // raw gzip than the death that preceded it (the resume must
      // re-consume from byte 0 up to the skip point, so progress per
      // attempt = die-point delta)
      FlakyObjectStoreFs.schedule = Seq(25000L, 70000L, 115000L)
      val rows = spark.read.format("warc")
        .option("stream_retries", "3")
        .load(s"flakyfs://$DataDir/warcfile.warc.gz")
        .select("record_id", "error").collect()
      assert(rows.length == 50, s"expected all 50 records, got ${rows.length}")
      assert(rows.forall(_.isNullAt(1)), "no error rows after successful resumes")
      // dead initial attempt + three reopens (the last one clean)
      assert(FlakyObjectStoreFs.opensOf(s"$DataDir/warcfile.warc.gz") == 4)
      // skip-dup across ALL resumes: ids are exactly the clean scan's, once
      val clean = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
        .select("record_id").collect().map(_.getString(0)).sorted.toSeq
      assert(rows.map(_.getString(0)).sorted.toSeq == clean)
    } finally {
      FlakyObjectStoreFs.reset()
      spark.sparkContext.hadoopConfiguration.unset("fs.flakyfs.impl")
    }
  }

  test("stream_retries exhausted: an unproductive flaky stream surfaces a " +
      "terminal error row after the configured reopens, keeping the " +
      "records that did decode") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakyfs.impl", classOf[FlakyObjectStoreFs].getName)
    try {
      FlakyObjectStoreFs.reset()
      // every attempt dies at the same raw offset: resumes reach the same
      // wall, retries run out (itertools.pyx's terminal condition)
      FlakyObjectStoreFs.schedule = Seq.fill(5)(20000L)
      val rows = spark.read.format("warc")
        .option("stream_retries", "2")
        .load(s"flakyfs://$DataDir/warcfile.warc.gz")
        .select("record_id", "error").collect()
      val errors = rows.filter(!_.isNullAt(1))
      // the final attempt's mid-payload truncation is annotated on its
      // record AND the exhaustion itself surfaces as a terminal row
      assert(errors.exists(_.getString(1).contains("after 2 retries")),
        s"terminal retry-exhausted row expected, got ${errors.toSeq}")
      assert(errors.forall(r => r.getString(1).contains("after 2 retries") ||
        r.getString(1).contains("truncated")),
        s"unexpected error shapes: ${errors.toSeq}")
      assert(rows.length < 50, "the archive must NOT silently complete")
      assert(rows.length > 1, "records decoded before the wall are kept")
      // initial open + exactly the 2 configured reopens, then give up
      assert(FlakyObjectStoreFs.opensOf(s"$DataDir/warcfile.warc.gz") == 3)
    } finally {
      FlakyObjectStoreFs.reset()
      spark.sparkContext.hadoopConfiguration.unset("fs.flakyfs.impl")
    }
  }

  test("emit_member_index under stream_retries: mid-stream deaths with " +
      "successful resumes commit a sidecar byte-for-byte equal to the " +
      "no-failure sidecar; exhausted retries commit nothing") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakyfs.impl", classOf[FlakyObjectStoreFs].getName)
    val dirA = java.nio.file.Files.createTempDirectory("emit-retry-flaky")
    val dirB = java.nio.file.Files.createTempDirectory("emit-retry-clean")
    val dirC = java.nio.file.Files.createTempDirectory("emit-retry-dead")
    try {
      for (d <- Seq(dirA, dirB, dirC))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"),
          d.resolve("foreign.warc.gz"))
      // flaky read, three productive deaths, resumes replay earlier
      // members on every reopen — the dedupe-at-commit case
      FlakyObjectStoreFs.reset()
      FlakyObjectStoreFs.schedule = Seq(25000L, 70000L, 115000L)
      assert(spark.read.format("warc")
        .option("stream_retries", "3")
        .option("emit_member_index", dirA.toString)
        .load(s"flakyfs://$dirA/foreign.warc.gz").count() == 50L)
      assert(FlakyObjectStoreFs.opensOf(s"$dirA/foreign.warc.gz") == 4)
      // clean local read of the identical copy: the reference sidecar
      assert(spark.read.format("warc")
        .option("emit_member_index", dirB.toString)
        .load(dirB.resolve("foreign.warc.gz").toString).count() == 50L)
      val flakySidecar = java.nio.file.Files.readAllBytes(
        dirA.resolve("foreign.warc.gz.idx"))
      val cleanSidecar = java.nio.file.Files.readAllBytes(
        dirB.resolve("foreign.warc.gz.idx"))
      assert(java.util.Arrays.equals(flakySidecar, cleanSidecar),
        "retry-path sidecar must equal the no-failure sidecar byte-for-byte")
      // exhausted retries: terminal error row -> NO sidecar (a partial
      // scan must not leave a plausible-looking index)
      FlakyObjectStoreFs.reset()
      FlakyObjectStoreFs.schedule = Seq.fill(5)(20000L)
      val rows = spark.read.format("warc")
        .option("stream_retries", "2")
        .option("emit_member_index", dirC.toString)
        .load(s"flakyfs://$dirC/foreign.warc.gz")
        .select("error").collect()
      assert(rows.exists(!_.isNullAt(0)))
      assert(!dirC.resolve("foreign.warc.gz.idx").toFile.exists(),
        "exhausted-retry scan left a sidecar")
    } finally {
      FlakyObjectStoreFs.reset()
      spark.sparkContext.hadoopConfiguration.unset("fs.flakyfs.impl")
      for (d <- Seq(dirA, dirB, dirC))
        org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    }
  }

  test("emit_member_index: a clean whole-file scan leaves the .idx " +
      "sidecar a member_index rescan consumes; offsets are the proven " +
      "MemberIndex walk") {
    import graft.core._
    val dir = java.nio.file.Files.createTempDirectory("emit-idx")
    for (name <- Seq("foreign.warc.gz", "foreign.warc.lz4")) {
      val src = if (name.endsWith(".gz")) s"$DataDir/warcfile.warc.gz"
                else s"$DataDir/warcfile.warc.lz4"
      val copy = dir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(src), copy)
      val n = spark.read.format("warc")
        .option("emit_member_index", dir.toString)
        .load(copy.toString).count()
      assert(n == 50L, name)
      val idx = dir.resolve(name + ".idx").toFile
      assert(idx.exists(), s"$name: sidecar missing")
      val lines = {
        val s = scala.io.Source.fromFile(idx, "UTF-8")
        try s.getLines().toVector finally s.close()
      }
      val walked = MemberIndex.scan(
        new java.io.FileInputStream(copy.toFile)).offsets
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val emitted = lines.map(l => m.readTree(l).get("offset").asLong())
      assert(emitted == walked, s"$name: emitted offsets != proven walk")
      assert(lines.forall(l =>
        m.readTree(l).get("filename").asText() == name), name)
      // the sidecar closes the loop: member-parallel rescan, same rows
      val rescanned = spark.read.format("warc")
        .option("member_index", dir.toString)
        .option("max_partition_bytes", 16 * 1024)
        .load(copy.toString)
      assert(rescanned.rdd.getNumPartitions > 1, s"$name: expected member splits")
      assert(rescanned.count() == 50L, name)
    }
  }

  test("member-indexed scan of a damaged archive: every healthy member's " +
      "records survive, each damage site yields error rows, and both " +
      "corruption kinds (deflate body, destroyed member magic) recover") {
    import graft.core._
    val dir = java.nio.file.Files.createTempDirectory("member-damage")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"))
    val offs = MemberIndex.scan(new java.io.ByteArrayInputStream(bytes)).offsets
    val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
    // member 10: flip a byte inside the deflate body (stream dies mid-member)
    mangled(offs(10).toInt + 40) = (mangled(offs(10).toInt + 40) ^ 0x55).toByte
    // member 20: destroy the gzip magic (the member can never start)
    mangled(offs(20).toInt) = 'X'.toByte
    val gz = dir.resolve("damaged.warc.gz")
    java.nio.file.Files.write(gz, mangled)
    val idx = dir.resolve("damaged.warc.gz.idx")
    java.nio.file.Files.write(idx, offs.map(o =>
      s"""{"filename": "damaged.warc.gz", "offset": $o}""").mkString("\n").getBytes)
    // both below the 136 KB file size, or the planner skips the index
    for (maxPart <- Seq(64 * 1024, 16 * 1024)) {
      val rows = spark.read.format("warc")
        .option("member_index", idx.toString)
        .option("max_partition_bytes", maxPart.toString)
        .load(gz.toString)
        .select("record_id", "offset", "error").collect()
      val good = rows.filter(_.isNullAt(2))
      val errs = rows.filter(!_.isNullAt(2))
      // the fixture is record-per-member: 48 healthy members must ALL
      // scan — in particular 11..19 (after the deflate kill) and 21..49
      // (after the magic kill, which a codec re-sniff would silently
      // swallow as raw garbage)
      assert(good.length == 48, s"maxPart=$maxPart: ${good.length} healthy records")
      val goodOffsets = good.map(_.getLong(1)).toSet
      assert(!goodOffsets.contains(offs(10)) && !goodOffsets.contains(offs(20)))
      assert((offs.toSet - offs(10) - offs(20)).subsetOf(goodOffsets),
        s"maxPart=$maxPart: healthy member offsets missing")
      assert(errs.nonEmpty && errs.forall(_.getString(2).contains("stream error")),
        s"maxPart=$maxPart: ${errs.toSeq}")
    }
  }

  test("damage property fuzz: 40 random corruption patterns over the " +
      "indexed gzip archive never lose a healthy member's record") {
    import graft.core._
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"))
    val offs = MemberIndex.scan(new java.io.ByteArrayInputStream(bytes)).offsets
    val bounds = offs :+ bytes.length.toLong
    // member -> its record id (record-per-member fixture)
    val idOf = {
      val (in, _) = WarcCodecs.open(new java.io.ByteArrayInputStream(bytes))
      try new WarcParser(new WarcByteReader(in), "f",
        WarcParseOptions(parseHttp = false)).toVector.flatMap(_.recordId)
      finally in.close()
    }
    assert(idOf.size == 50)
    val dir = java.nio.file.Files.createTempDirectory("member-fuzz")
    val rnd = new scala.util.Random(7)
    for (iter <- 0 until 40) {
      val nCorrupt = 1 + rnd.nextInt(3)
      val victims = rnd.shuffle((0 until 50).toList).take(nCorrupt).toSet
      val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
      victims.foreach { k =>
        val s = offs(k).toInt; val e = bounds(k + 1).toInt
        rnd.nextInt(3) match {
          case 0 => mangled(s) = 'X'.toByte                        // magic
          case 1 =>                                                 // body
            val p = s + 12 + rnd.nextInt(math.max(1, e - s - 20))
            mangled(p) = (mangled(p) ^ (1 + rnd.nextInt(255))).toByte
          case _ => mangled(e - 5) = (mangled(e - 5) ^ 0x01).toByte // trailer
        }
      }
      val gz = dir.resolve(s"fuzz$iter.warc.gz")
      java.nio.file.Files.write(gz, mangled)
      val idx = dir.resolve(s"fuzz$iter.warc.gz.idx")
      java.nio.file.Files.write(idx, offs.map(o =>
        s"""{"filename": "fuzz$iter.warc.gz", "offset": $o}""").mkString("\n").getBytes)
      val maxPart = Seq(8, 16, 48)(rnd.nextInt(3)) * 1024
      val rows = spark.read.format("warc")
        .option("member_index", idx.toString)
        .option("max_partition_bytes", maxPart.toString)
        .load(gz.toString)
        .select("record_id", "error").collect()
      val good = rows.filter(_.isNullAt(1)).map(_.getString(0))
      val healthyIds = (0 until 50).filterNot(victims).map(idOf).toSet
      // every healthy member's record survives whatever the damage did
      assert(healthyIds.subsetOf(good.toSet),
        s"iter $iter (victims=$victims maxPart=$maxPart): lost ${healthyIds -- good.toSet}")
      assert(good.length == good.distinct.length,
        s"iter $iter: duplicate records emitted")
      // a corrupted member's record only goes missing WITH an error row
      // (a flip in a don't-care header byte may legitimately decode)
      if (good.length < 50)
        assert(rows.exists(!_.isNullAt(1)), s"iter $iter: silent record loss")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("zstd damage property fuzz: 25 random corruption patterns over " +
      "an indexed .warc.zst never lose a healthy member's record") {
    import graft.core._
    val zst = {
      val out = new java.io.ByteArrayOutputStream()
      val in = new java.io.FileInputStream(s"$DataDir/warcfile.warc.gz")
      try WarcWriter.recompress(in, out, WarcWriter.Zstd) finally in.close()
      out.toByteArray
    }
    val offs = MemberIndex.scan(new java.io.ByteArrayInputStream(zst)).offsets
    assert(offs.size == 50)
    val bounds = offs :+ zst.length.toLong
    val idOf = {
      val (in, _) = WarcCodecs.open(new java.io.ByteArrayInputStream(zst))
      try new WarcParser(new WarcByteReader(in), "f",
        WarcParseOptions(parseHttp = false)).toVector.flatMap(_.recordId)
      finally in.close()
    }
    assert(idOf.size == 50)
    val dir = java.nio.file.Files.createTempDirectory("zstd-fuzz")
    val rnd = new scala.util.Random(29)
    for (iter <- 0 until 25) {
      val nCorrupt = 1 + rnd.nextInt(3)
      val victims = rnd.shuffle((0 until 50).toList).take(nCorrupt).toSet
      val mangled = java.util.Arrays.copyOf(zst, zst.length)
      victims.foreach { k =>
        val s = offs(k).toInt; val e = bounds(k + 1).toInt
        rnd.nextInt(3) match {
          case 0 => mangled(s) = 'X'.toByte                       // magic
          case 1 =>                                                // body
            val p = s + 8 + rnd.nextInt(math.max(1, e - s - 12))
            mangled(p) = (mangled(p) ^ (1 + rnd.nextInt(255))).toByte
          case _ =>                                                // header
            mangled(s + 4 + rnd.nextInt(3)) =
              (mangled(s + 4) ^ 0x88).toByte
        }
      }
      val f = dir.resolve(s"fuzz$iter.warc.zst")
      java.nio.file.Files.write(f, mangled)
      java.nio.file.Files.write(dir.resolve(s"fuzz$iter.warc.zst.idx"),
        offs.map(o => s"""{"filename": "fuzz$iter.warc.zst", "offset": $o}""")
          .mkString("\n").getBytes)
      val maxPart = Seq(8, 16, 48)(rnd.nextInt(3)) * 1024
      val rows = spark.read.format("warc")
        .option("max_partition_bytes", maxPart.toString)
        .load(f.toString)
        .select("record_id", "error").collect()
      val good = rows.filter(_.isNullAt(1)).map(_.getString(0))
      val healthyIds = (0 until 50).filterNot(victims).map(idOf).toSet
      assert(healthyIds.subsetOf(good.toSet),
        s"iter $iter (victims=$victims maxPart=$maxPart): lost ${healthyIds -- good.toSet}")
      assert(good.length == good.distinct.length, s"iter $iter: duplicates")
      if (good.length < 50)
        assert(rows.exists(!_.isNullAt(1)), s"iter $iter: silent record loss")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("zstd: scan sniffs .warc.zst, emit_member_index leaves a sidecar, " +
      "the option-free rescan is member-parallel, a trained-dict archive " +
      "scans whole AND member-indexed, and frame damage stays isolated") {
    import graft.core._
    val dir = java.nio.file.Files.createTempDirectory("zstd-scan")
    // dict-less archive via recompress
    val plain = {
      val out = new java.io.ByteArrayOutputStream()
      val in = new java.io.FileInputStream(s"$DataDir/warcfile.warc.gz")
      try WarcWriter.recompress(in, out, WarcWriter.Zstd) finally in.close()
      out.toByteArray
    }
    val f = dir.resolve("foreign.warc.zst")
    java.nio.file.Files.write(f, plain)
    // plain scan: 50 records, ids equal to the gzip fixture
    val gzIds = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_id").collect().map(_.getString(0)).sorted
    val ids = spark.read.format("warc").load(f.toString)
      .select("record_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == gzIds.toSeq)
    // first scan emits the sidecar; rescan auto-discovers, splits, agrees
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(f.toString).count() == 50L)
    assert(dir.resolve("foreign.warc.zst.idx").toFile.exists())
    val rescan = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024).load(f.toString)
    assert(rescan.rdd.getNumPartitions > 1, "zstd auto rescan did not split")
    assert(rescan.select("record_id").collect().map(_.getString(0)).sorted
      .toSeq == gzIds.toSeq)
    // trained-dictionary archive: whole-file scan AND member-indexed scan
    // (the reader preloads the head dictionary before seeking)
    val dictOut = new java.io.ByteArrayOutputStream()
    val (n, dictLen) = WarcWriter.recompressZstdTrained(
      () => new java.io.FileInputStream(s"$DataDir/warcfile.warc.gz"), dictOut)
    assert(n == 50L && dictLen.isDefined)
    val fd = dir.resolve("dicted.warc.zst")
    java.nio.file.Files.write(fd, dictOut.toByteArray)
    assert(spark.read.format("warc").load(fd.toString).count() == 50L)
    val r = MemberIndex.scan(new java.io.ByteArrayInputStream(dictOut.toByteArray))
    assert(r.codec == "zstd" && r.isComplete && r.offsets.size == 50)
    java.nio.file.Files.write(dir.resolve("dicted.warc.zst.idx"),
      r.offsets.map(o => s"""{"filename": "dicted.warc.zst", "offset": $o}""")
        .mkString("\n").getBytes)
    val dictRescan = spark.read.format("warc")
      .option("max_partition_bytes", 8 * 1024).load(fd.toString)
    assert(dictRescan.rdd.getNumPartitions > 1)
    assert(dictRescan.select("record_id").collect().map(_.getString(0)).sorted
      .toSeq == gzIds.toSeq, "dict member-indexed scan lost records")
    // damage: one corrupted frame body costs its member, not the archive
    val offs = {
      val b = Vector.newBuilder[Long]
      val (s0, _) = WarcCodecs.openTracked(
        new java.io.ByteArrayInputStream(plain), (c: Long, _: Long) => { b += c; () })
      new WarcParser(new WarcByteReader(s0), "x",
        WarcParseOptions(parseHttp = false)).foreach(_ => ())
      b.result()
    }
    val mangled = java.util.Arrays.copyOf(plain, plain.length)
    mangled(offs(20).toInt + 25) = (mangled(offs(20).toInt + 25) ^ 0x77).toByte
    val fm = dir.resolve("damaged.warc.zst")
    java.nio.file.Files.write(fm, mangled)
    java.nio.file.Files.write(dir.resolve("damaged.warc.zst.idx"),
      offs.map(o => s"""{"filename": "damaged.warc.zst", "offset": $o}""")
        .mkString("\n").getBytes)
    val rows = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024).load(fm.toString)
      .select("record_id", "error").collect()
    val good = rows.filter(_.isNullAt(1)).map(_.getString(0))
    assert(good.length == 49, s"expected 49 healthy records, got ${good.length}")
    assert(rows.exists(!_.isNullAt(1)), "damage must surface as an error row")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Full message text of an exception and its cause chain (Spark
    * re-wraps task failures; the actionable text may sit a level down).
    */
  private def serializedChain(e: Throwable): String = {
    val sb = new StringBuilder
    var t: Throwable = e
    while (t != null) { sb.append(t.getMessage).append('\n'); t = t.getCause }
    sb.toString
  }

  test("auto-discovered .idx sidecar: an option-free rescan goes " +
      "member-parallel, auto_member_index=false disables it, and an " +
      "unparseable sidecar degrades to a whole-file scan") {
    val dir = java.nio.file.Files.createTempDirectory("auto-idx")
    val copy = dir.resolve("foreign.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    def rd(auto: Boolean = true) = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .option("auto_member_index", auto)
      .load(copy.toString)
    // no sidecar yet: a compressed file is unsplittable -> 1 partition
    assert(rd().rdd.getNumPartitions == 1)
    val plainIds = rd().select("record_id").collect().map(_.getString(0)).sorted
    assert(plainIds.length == 50)
    // first scan leaves the side-output sidecar behind
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    assert(dir.resolve("foreign.warc.gz.idx").toFile.exists())
    // option-free rescan: the sidecar is discovered at plan time
    val auto = rd()
    assert(auto.rdd.getNumPartitions > 1, "auto-discovery did not split")
    val autoIds = auto.select("record_id").collect().map(_.getString(0)).sorted
    assert(autoIds.toSeq == plainIds.toSeq)
    // kill switch
    assert(rd(auto = false).rdd.getNumPartitions == 1)
    assert(rd(auto = false).count() == 50L)
    // explicit member_index wins over auto-discovery for the same file
    // (same offsets here, but the plan must come from the option)
    val explicit = spark.read.format("warc")
      .option("member_index", dir.toString)
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
    assert(explicit.count() == 50L)
    // out-of-band sidecar rewrite leaving a stale Hadoop FS checksum:
    // the executor-side slice read fails; an UNREADABLE sidecar (unlike
    // unparseable content below) must fail loudly with an actionable
    // message — per-slice silent fallback could double- or under-scan
    java.nio.file.Files.write(dir.resolve("foreign.warc.gz.idx"),
      "this is not an index\n binary junk".getBytes("UTF-8"))
    val unreadable = intercept[org.apache.spark.SparkException] {
      rd().count()
    }
    assert(serializedChain(unreadable).contains("auto_member_index=false"),
      s"expected the actionable sidecar message, got: $unreadable")
    // content-garbage sidecar (checksum consistent): plan time never
    // reads the sidecar (O(files + partitions) driver work — slices are
    // parsed executor-side), so the plan still fans out; the DEGRADE
    // contract is content-based and deterministic: slice 0 finds
    // nothing parseable and scans the whole file alone, every other
    // slice emits nothing — exactly the plain rows, no dups, no losses
    java.nio.file.Files.deleteIfExists(dir.resolve(".foreign.warc.gz.idx.crc"))
    val degraded = rd()
    val degradedIds =
      degraded.select("record_id").collect().map(_.getString(0)).sorted
    assert(degradedIds.toSeq == plainIds.toSeq,
      "garbage sidecar must degrade to exactly the plain scan's rows")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("stale auto-discovered sidecar with wrong (mid-member) offsets " +
      "degrades to error-isolated members — losses are flagged by error " +
      "rows, never silent") {
    import graft.core._
    val dir = java.nio.file.Files.createTempDirectory("stale-idx")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"))
    val offs = MemberIndex.scan(new java.io.ByteArrayInputStream(bytes)).offsets
    val gz = dir.resolve("stale.warc.gz")
    java.nio.file.Files.write(gz, bytes)
    // every offset shifted +7: all point mid-member (the file was
    // rewritten since the index was built); offsets past EOF appear too
    val wrong = offs.map(_ + 7) :+ (bytes.length + 999L)
    java.nio.file.Files.write(dir.resolve("stale.warc.gz.idx"), wrong.map(o =>
      s"""{"filename": "stale.warc.gz", "offset": $o}""").mkString("\n").getBytes)
    val df = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(gz.toString)
    val nParts = df.rdd.getNumPartitions
    assert(nParts > 1, "stale sidecar should still be planned from")
    val rows = df.select("record_id", "error").collect()
    val good = rows.filter(_.isNullAt(1)).map(_.getString(0))
    val errs = rows.filter(!_.isNullAt(1))
    // the head-anchored slice decodes its healthy prefix; every other
    // slice starts mid-member and MUST flag itself rather than vanish
    assert(good.nonEmpty, "head-anchored slice lost its healthy prefix")
    assert(good.length == good.distinct.length, "duplicate records")
    assert(good.length < 50, "sanity: a wrong index cannot be lossless here")
    assert(errs.nonEmpty && errs.forall(_.getString(1).contains("stream error")))
    assert(errs.length >= nParts - 1,
      s"a slice lost records without flagging: $nParts parts, ${errs.length} errors")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("member-indexed LZ4 scan recovers past damaged frames the same way " +
      "(header-checksum kill and destroyed frame magic)") {
    import graft.core._
    val dir = java.nio.file.Files.createTempDirectory("member-damage-lz4")
    // frame-per-record archive from our own writer
    val (in0, _) = WarcCodecs.open(
      new java.io.FileInputStream(s"$DataDir/warcfile.warc"))
    val recs = try new WarcParser(new WarcByteReader(in0), "m",
      WarcParseOptions()).toVector finally in0.close()
    val bos = new java.io.ByteArrayOutputStream()
    val w = new WarcWriter.RecordStreamWriter(bos, WarcWriter.Lz4)
    recs.foreach(w.write)
    w.close()
    val bytes = bos.toByteArray
    val offs = MemberIndex.scan(new java.io.ByteArrayInputStream(bytes)).offsets
    assert(offs.size == 50)
    val mangled = java.util.Arrays.copyOf(bytes, bytes.length)
    // frame 10: flip the BD byte — the frame header checksum (HC) fails
    // deterministically, killing the stream inside the member
    mangled(offs(10).toInt + 5) = (mangled(offs(10).toInt + 5) ^ 0x20).toByte
    // frame 20: destroy the magic — the member can never start
    mangled(offs(20).toInt) = 'X'.toByte
    val lz4 = dir.resolve("damaged.warc.lz4")
    java.nio.file.Files.write(lz4, mangled)
    val idx = dir.resolve("damaged.warc.lz4.idx")
    java.nio.file.Files.write(idx, offs.map(o =>
      s"""{"filename": "damaged.warc.lz4", "offset": $o}""").mkString("\n").getBytes)
    val rows = spark.read.format("warc")
      .option("member_index", idx.toString)
      .option("max_partition_bytes", (16 * 1024).toString)
      .load(lz4.toString)
      .select("record_id", "offset", "error").collect()
    val good = rows.filter(_.isNullAt(2))
    assert(good.length == 48, s"${good.length} healthy records")
    val goodOffsets = good.map(_.getLong(1)).toSet
    assert((offs.toSet - offs(10) - offs(20)).subsetOf(goodOffsets),
      "healthy frame offsets missing")
    assert(rows.exists(r => !r.isNullAt(2) && r.getString(2).contains("stream error")))
  }

  test("emit_member_index: no sidecar for a raw file, a corrupt archive, " +
      "or an early-terminated scan") {
    val dir = java.nio.file.Files.createTempDirectory("emit-idx-neg")
    // raw: nothing to index (byte-range splits already cover it)
    val raw = dir.resolve("plain.warc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc"), raw)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(raw.toString).count() == 50L)
    assert(!dir.resolve("plain.warc.idx").toFile.exists())
    // corrupt tail: the scan yields an error row; NO plausible sidecar
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"))
    val cut = dir.resolve("cut.warc.gz")
    java.nio.file.Files.write(cut,
      java.util.Arrays.copyOf(bytes, bytes.length - 500))
    val rows = spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(cut.toString).select("error").collect()
    assert(rows.exists(!_.isNullAt(0)), "corrupt tail must surface an error row")
    assert(!dir.resolve("cut.warc.gz.idx").toFile.exists(),
      "a damaged archive must not leave a sidecar")
    // early termination (LIMIT) must not commit a partial index
    val whole = dir.resolve("whole.warc.gz")
    java.nio.file.Files.write(whole, bytes)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(whole.toString).limit(3).count() == 3L)
    assert(!dir.resolve("whole.warc.gz.idx").toFile.exists(),
      "an early-terminated scan must not leave a sidecar")
  }

  test("collection seekability contract (w49): MEMBER-INDEXED scan " +
      "offsets point-read in every container; plain-scan offsets are " +
      "seekable only for raw") {
    val dir = java.nio.file.Files.createTempDirectory("collection-seek")
    val paths = BenchCorpus.ensureCollection(dir.toString)
    // onboarding pass leaves sidecars for the four compressed archives
    spark.read.format("warc").option("emit_member_index", dir.toString)
      .load(paths: _*).count()
    def respOffsets(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.filter(org.apache.spark.sql.functions.col("record_type") === "response")
        .select("filename", "offset").collect()
        .map(r => (new java.net.URI(r.getString(0)).getPath, r.getLong(1))).toSeq
    val indexed = respOffsets(spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024).load(paths: _*))
    assert(indexed.size == 5 * 16)
    indexed.foreach { case (path, off) =>
      val rec = graft.core.WarcPointLookup.extract(path, off)
      assert(rec.exists(_.recordType == "response"),
        s"member-indexed offset $off of $path must point-read a response")
    }
    // plain-scan offsets of a COMPRESSED archive are decompressed-stream
    // positions — a seek there reads mid-member garbage, never the
    // record (this asymmetry is WHY w49 builds its CDXJ from the
    // member-indexed rescan). The last response's decompressed offset
    // exceeds the gzip file's compressed length entirely.
    val plain = respOffsets(spark.read.format("warc")
      .option("auto_member_index", "false")
      .load(paths.find(_.endsWith(".warc.gz")).get))
    val (gzPath, lastOff) = plain.maxBy(_._2)
    assert(lastOff > new java.io.File(gzPath).length(),
      "sanity: decompressed offsets outrun the compressed file")
    assert(graft.core.WarcPointLookup.extract(gzPath, lastOff).isEmpty,
      "a plain-scan offset must NOT be seekable in a compressed archive")
    // raw archives need no index: plain-scan offsets are byte addresses
    val rawPlain = respOffsets(spark.read.format("warc")
      .load(paths.find(_.endsWith("collection-raw.warc")).get))
    rawPlain.foreach { case (path, off) =>
      assert(graft.core.WarcPointLookup.extract(path, off)
        .exists(_.recordType == "response"), s"raw offset $off")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
