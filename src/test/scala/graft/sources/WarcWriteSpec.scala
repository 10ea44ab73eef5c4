package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._

/** Write → re-read integrity (the reference's check_warc_integrity,
  * tests/fastwarc/test_warc.py:455-468 analog) + recompress + CDXJ.
  */
class WarcWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val DataDir = graft.sources.BenchCorpus.FixtureDir
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").appName("warc-write-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("dataset round-trip: write gzip members, re-read identically") {
    val out = tmpDir("warc-rt")
    val src = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_id", "record_type", "record_date", "headers", "content")
    src.repartition(3).write.format("warc").mode("append").save(out)

    val back = spark.read.format("warc").load(out)
    assert(back.count() == 50L)
    val origIds = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_id").collect().map(_.getString(0)).sorted.toSeq
    val newIds = back.select("record_id").collect().map(_.getString(0)).sorted.toSeq
    assert(newIds == origIds)
    // content round-trips byte-identically per record id
    val origByIds = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_id", "content").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    back.select("record_id", "content").collect().foreach { r =>
      assert(r.getAs[Array[Byte]](1).toSeq == origByIds(r.getString(0)), r.getString(0))
    }
  }

  test("drop_null_content: null-content rows are skipped at write time, " +
      "non-null rows (including empty binary) are written") {
    val out = tmpDir("warc-nullgate")
    val rows = Seq(
      ("<urn:a>", "resource", Array[Byte](104, 105)),
      ("<urn:b>", "resource", null), // null content -> dropped by the gate
      ("<urn:c>", "resource", Array.emptyByteArray)) // empty != null
    def df = spark.createDataFrame(rows)
      .toDF("record_id", "record_type", "content")
    df.coalesce(1)
      .write.format("warc").option("drop_null_content", "true")
      .mode("append").save(out)
    val back = spark.read.format("warc").load(out)
      .select("record_id").collect().map(_.getString(0)).sorted.toSeq
    assert(back == Seq("<urn:a>", "<urn:c>"))
    // default (gate off): the null row round-trips as an empty block
    val out2 = tmpDir("warc-nullgate-off")
    df.coalesce(1).write.format("warc").mode("append").save(out2)
    assert(spark.read.format("warc").load(out2).count() == 3L)
  }

  test("member_index write emits sidecars that drive a parallel rescan") {
    val out = tmpDir("warc-midx")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .select("record_id", "record_type", "record_date", "headers", "content")
      .coalesce(1)
      .write.format("warc").option("member_index", "true").mode("append").save(out)
    // exactly one data file + one .idx sidecar, 50 offsets, strictly increasing
    val files = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(files.count(_.endsWith(".warc.gz")) == 1)
    assert(files.count(_.endsWith(".idx")) == 1)
    val idxLines = scala.io.Source.fromFile(
      s"$out/${files.find(_.endsWith(".idx")).get}").getLines().toVector
    assert(idxLines.size == 50)
    val offsets = idxLines.map(l => l.split("\"offset\":")(1).stripSuffix("}").toLong)
    assert(offsets == offsets.sorted && offsets.distinct.size == 50)
    // a member_index rescan with a tiny split size plans >1 partition
    // for the SINGLE gzip file, reading every record exactly once
    val indexed = spark.read.format("warc")
      .option("member_index", out)
      .option("max_partition_bytes", 64 * 1024)
      .load(out)
    assert(indexed.rdd.getNumPartitions > 1)
    assert(indexed.count() == 50L)
    // the indexed scan reports COMPRESSED member coordinates — exactly
    // the sidecar's offsets (the seekable point-lookup addresses)
    val scanned = indexed.select("offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(scanned == offsets)
    assert(indexed.select("record_id").distinct().count() ==
      spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
        .select("record_id").distinct().count())
  }

  test("checksummed write verifies on re-read") {
    val out = tmpDir("warc-digest")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select("record_type", "headers", "content")
      .coalesce(1)
      .write.format("warc").option("checksum", "true").mode("append").save(out)
    val back = spark.read.format("warc").load(out)
    assert(back.count() == 50L)
    // every record now carries a block digest and all verify
    assert(back.filter(col("block_digest_ok")).count() == 50L)
  }

  test("round-trip preserves the original WARC version line") {
    // the fixture is WARC/1.0 (Common Crawl): a write must not upgrade it
    val out = tmpDir("warc-version")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select("record_type", "record_date", "headers", "content", "warc_version")
      .coalesce(1).write.format("warc").mode("append").save(out)
    val back = spark.read.format("warc").load(out)
    val versions = back.select("warc_version").collect().map(_.getString(0)).distinct
    assert(versions.toSeq == Seq("WARC/1.0"))
  }

  test("append-mode writes into the same directory accumulate (no overwrite)") {
    val out = tmpDir("warc-append")
    val five = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .limit(5).select("record_type", "headers", "content").coalesce(1)
    five.write.format("warc").mode("append").save(out)
    five.write.format("warc").mode("append").save(out)
    // second job must land new part files, not replace the first job's
    assert(spark.read.format("warc").load(out).count() == 10L)
  }

  test("write custom metric: warcRecordsWritten lands on the V2 write node") {
    val out = tmpDir("warc-write-metric")
    @volatile var written: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.executedPlan.collectFirst {
          case n if n.metrics.contains("warcRecordsWritten") =>
            written = Some(n.metrics("warcRecordsWritten").value)
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.read.format("warc").load(s"$DataDir/warcfile.warc")
        .limit(7).select("record_type", "headers", "content").coalesce(1)
        .write.format("warc").mode("append").save(out)
      // the listener fires asynchronously on the listener bus
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (written.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(written.contains(7L), s"metric: $written")
      assert(spark.read.format("warc").load(out).count() == 7L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("overwrite-mode write REPLACES the directory's archives and sidecars " +
      "(the exactly-once sink's idempotence primitive)") {
    val out = tmpDir("warc-overwrite")
    val base = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select("record_id", "record_type", "headers", "content")
    // seed with 10 records + a member-index sidecar, then overwrite with 5
    base.limit(10).coalesce(1).write.format("warc")
      .option("member_index", "true").mode("append").save(out)
    assert(new java.io.File(out).listFiles().exists(_.getName.endsWith(".idx")))
    base.limit(5).coalesce(1).write.format("warc").mode("overwrite").save(out)
    assert(spark.read.format("warc").load(out).count() == 5L)
    // the previous write's data files AND sidecars are gone
    val names = new java.io.File(out).listFiles().map(_.getName).toSeq
    assert(names.count(_.endsWith(".warc.gz")) == 1, names)
    assert(!names.exists(_.endsWith(".idx")), names)
    // overwriting again with the same frame is idempotent
    base.limit(5).coalesce(1).write.format("warc").mode("overwrite").save(out)
    assert(spark.read.format("warc").load(out).count() == 5L)
  }

  test("lz4 member_index write: frame-per-record sidecar drives a parallel rescan") {
    val out = tmpDir("warc-midx-lz4")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .write.format("warc")
      .option("compression", "lz4")
      .option("member_index", "true")
      .mode("append").save(out)
    val files = new java.io.File(out).list().toSeq
    val dataFile = files.find(_.endsWith(".warc.lz4"))
    assert(dataFile.isDefined, s"files: $files")
    assert(files.count(_.endsWith(".idx")) == 1)
    // each member offset is an LZ4 frame start: seek + decode must yield
    // exactly the 50 original records through the member-aligned scan
    val back = spark.read.format("warc").load(s"$out/${dataFile.get}")
      .selectExpr("record_id", "record_type").collect()
    assert(back.length == 50)
    val orig = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .selectExpr("record_id", "record_type").collect()
    assert(back.map(_.toString).sorted.toSeq == orig.map(_.toString).sorted.toSeq)
  }

  test("zstd sink with a pre-trained shared dictionary: every output " +
      "file leads with the dict skippable frame, reads back identically, " +
      "and the sidecar drives a member-parallel rescan") {
    // train a dictionary once (the CLI/offline step)
    val samples = {
      val in = new java.io.FileInputStream(s"$DataDir/warcfile.warc.gz")
      try {
        val (st, _) = WarcCodecs.open(in)
        new WarcParser(new WarcByteReader(st), "fx",
          WarcParseOptions(parseHttp = false)).toVector.map { r =>
          val b = new java.io.ByteArrayOutputStream()
          WarcWriter.writeRecord(r, b)
          b.toByteArray
        }
      } finally in.close()
    }
    val dict = ZstdDict.train(samples)
    assume(dict.isDefined)
    val dictDir = tmpDir("warc-zstd-dictfile")
    val dictPath = s"$dictDir/shared.dict"
    Files.write(java.nio.file.Paths.get(dictPath), dict.get)
    val out = tmpDir("warc-zstd-dict-write")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .write.format("warc")
      .option("compression", "zstd")
      .option("zstd_dict", dictPath)
      .option("member_index", "true")
      .mode("append").save(out)
    val files = new java.io.File(out).list().toSeq
    val dataFiles = files.filter(_.endsWith(".warc.zst"))
    assert(dataFiles.nonEmpty, s"files: $files")
    assert(files.count(_.endsWith(".idx")) == dataFiles.size)
    // every output file leads with the dictionary skippable frame and
    // yields the SAME dictionary the writer was given
    dataFiles.foreach { f =>
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$out/$f"))
      assert((bytes(0) & 0xf0) == 0x50 && (bytes(1) & 0xff) == 0x2a, f)
      val rd = ZstdWarc.readDictionary(new java.io.ByteArrayInputStream(bytes))
      assert(rd.isDefined && java.util.Arrays.equals(rd.get, dict.get), f)
    }
    // whole-dir read back
    val back = spark.read.format("warc").load(out)
      .selectExpr("record_id", "record_type").collect()
    assert(back.length == 50)
    val orig = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .selectExpr("record_id", "record_type").collect()
    assert(back.map(_.toString).sorted.toSeq == orig.map(_.toString).sorted.toSeq)
    // member-parallel rescan of one file (sidecar auto-discovered;
    // the reader preloads the head dictionary before seeking)
    val one = dataFiles.maxBy(f => new java.io.File(s"$out/$f").length)
    val rescan = spark.read.format("warc")
      .option("max_partition_bytes", "4096").load(s"$out/$one")
    assert(rescan.rdd.getNumPartitions > 1)
    assert(rescan.select("error").collect().forall(_.isNullAt(0)))
  }

  test("member scan: corruption inside ONE member yields its error row, later members survive") {
    val out = tmpDir("warc-midx-corrupt")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .write.format("warc")
      .option("compression", "lz4")
      .option("member_index", "true")
      .mode("append").save(out)
    val files = new java.io.File(out).list().toSeq
    val dataFile = files.find(_.endsWith(".warc.lz4")).get
    val idxFile = files.find(_.endsWith(".idx")).get
    val offsets = scala.io.Source.fromFile(s"$out/$idxFile").getLines()
      .map(l => l.split("\"offset\":")(1).stripSuffix("}").toLong).toVector
    // structurally corrupt the MIDDLE member's first block-size field
    // (frame header = magic 4 + FLG/BD/HC 3): impossible size -> the
    // decoder dies inside that member, not at the partition tail
    val path = java.nio.file.Paths.get(s"$out/$dataFile")
    val bytes = java.nio.file.Files.readAllBytes(path)
    val mid = offsets(offsets.size / 2).toInt
    bytes(mid + 7) = 0xff.toByte; bytes(mid + 8) = 0xff.toByte
    bytes(mid + 9) = 0xff.toByte; bytes(mid + 10) = 0x7f.toByte
    java.nio.file.Files.write(path, bytes)
    // drop Hadoop's local-FS checksum sidecar: otherwise ChecksumException
    // fires at the IO layer before the LZ4 corruption is ever reached
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/.$dataFile.crc"))
    // member-aligned scan: the index option + a tiny split size force the
    // member path (otherwise a small file is one plain streaming partition)
    val rows = spark.read.format("warc")
      .option("member_index", s"$out/$idxFile")
      .option("max_partition_bytes", "4096")
      .load(s"$out/$dataFile")
      .selectExpr("offset", "error").collect()
    val errs = rows.flatMap(r => Option(r.getString(1)))
    assert(errs.exists(_.contains(s"member at $mid")), s"errors: ${errs.toSeq}")
    // every member EXCEPT the corrupted one still yields its record
    val goodOffsets = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(goodOffsets.size == offsets.size - 1, s"good: ${goodOffsets.size} of ${offsets.size}")
    assert(!goodOffsets.contains(offsets(offsets.size / 2)))
  }

  test("recompress gzip -> lz4 -> raw preserves the record stream") {
    val lz4Out = Files.createTempFile("recompress", ".warc.lz4")
    val n1 = WarcWriter.recompress(
      new java.io.FileInputStream(s"$DataDir/warcfile.warc.gz"),
      new java.io.FileOutputStream(lz4Out.toFile), WarcWriter.Lz4)
    assert(n1 == 50L)
    val rawOut = Files.createTempFile("recompress", ".warc")
    val n2 = WarcWriter.recompress(
      new java.io.FileInputStream(lz4Out.toFile.getAbsolutePath),
      new java.io.FileOutputStream(rawOut.toFile), WarcWriter.Raw)
    assert(n2 == 50L)
    val (in, codec) = WarcCodecs.open(new java.io.FileInputStream(rawOut.toFile))
    val recs = try new WarcParser(new WarcByteReader(in), "rt", WarcParseOptions()).toVector
      finally in.close()
    assert(codec == WarcCodecs.Raw)
    assert(recs.size == 50)
    assert(recs.count(_.recordType == "response") == 16)
    assert(recs.flatMap(_.blockDigestOk).count(identity) == 16) // originals kept
    Files.delete(lz4Out); Files.delete(rawOut)
  }

  test("gzip output is one member per record (record-addressable)") {
    val out = tmpDir("warc-members")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .limit(5).coalesce(1)
      .write.format("warc").mode("append").save(out)
    val file = new java.io.File(out).listFiles().filter(_.getName.endsWith(".warc.gz")).head
    val bytes = Files.readAllBytes(file.toPath)
    // count gzip member headers (1f 8b 08): one per record
    var members = 0
    var i = 0
    while (i + 2 < bytes.length) {
      if ((bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b && bytes(i + 2) == 8)
        members += 1
      i += 1
    }
    assert(members >= 5) // payload may contain the magic by chance; never fewer
    // stronger: each member boundary is independently decodable from its offset
    val (in, _) = WarcCodecs.open(new java.io.FileInputStream(file))
    val recs = try new WarcParser(new WarcByteReader(in), "m", WarcParseOptions()).toVector
      finally in.close()
    assert(recs.size == 5)
  }

  test("cdxj index rows from the scan (offset/length/filename/status)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("filename")).orderBy(col("offset"))
    val out = tmpDir("cdxj")
    spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select(col("filename"), col("offset"), col("record_type"),
        col("http_status"),
        expr("get(filter(headers, h -> lower(h.key) = 'warc-target-uri'), 0).value").as("url"))
      .withColumn("length", lead(col("offset"), 1).over(w) - col("offset"))
      .write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() == 50L)
    assert(back.filter(col("url").isNotNull).count() == 49L) // warcinfo has no uri
  }
}
