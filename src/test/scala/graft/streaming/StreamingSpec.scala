package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming WARC source (micro-batch over a landing directory) and
  * event-time operators.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("warc-streaming-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("readStream format warc consumes newly landed archives per batch") {
    val landing = Files.createTempDirectory("warc-landing")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    Files.copy(src, landing.resolve("batch-a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)

    val stream = spark.readStream.format("warc").load(landing.toString)
    assert(stream.isStreaming)
    val query = stream
      .groupBy(col("record_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("warc_stream_counts")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val n1 = spark.sql("SELECT sum(n) FROM warc_stream_counts").head.getLong(0)
      assert(n1 == 50L)
      // land a second archive: the next micro-batch picks up ONLY the new file
      Files.copy(src, landing.resolve("batch-b.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
      query.processAllAvailable()
      val n2 = spark.sql("SELECT sum(n) FROM warc_stream_counts").head.getLong(0)
      assert(n2 == 100L)
      // a LATE file whose name sorts before the consumed ones must still be
      // picked up (the offset is the consumed-file SET, not a count)
      Files.copy(src, landing.resolve("0-late.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
      query.processAllAvailable()
      val n3 = spark.sql("SELECT sum(n) FROM warc_stream_counts").head.getLong(0)
      assert(n3 == 150L)
      val types = spark.sql("SELECT record_type, n FROM warc_stream_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(types("response") == 48L && types("request") == 51L)
    } finally query.stop()
  }

  test("readStream on an empty landing directory starts and waits for archives") {
    // unlike a batch scan (PATH_NOT_FOUND), an empty landing is a valid start
    val landing = Files.createTempDirectory("warc-empty-landing")
    val query = spark.readStream.format("warc").load(landing.toString)
      .groupBy(col("record_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("warc_empty_landing")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(query.exception.isEmpty)
      Files.copy(Paths.get(graft.sources.BenchCorpus.FixtureGz), landing.resolve("a.warc.gz"))
      query.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM warc_empty_landing").head.getLong(0) == 50L)
    } finally query.stop()
  }

  test("streaming backfill of a member-indexed archive is member-parallel: " +
      "the micro-batch plans IdxSlice partitions, totals exact") {
    val landing = Files.createTempDirectory("warc-backfill")
    // an indexed archive: member-per-record gzip + its .idx sidecar,
    // BOTH landed before the stream starts (the backfill regime)
    val (gzPath, offs) = graft.sources.BenchCorpus.ensureMemberArchive(
      landing.toString)
    Files.write(landing.resolve("members.warc.gz.idx"),
      offs.map(o => s"""{"filename": "members.warc.gz", "offset": $o}""")
        .mkString("\n").getBytes("UTF-8"))
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val query = spark.readStream.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(landing.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        parts += df.rdd.getNumPartitions
        df.groupBy(col("record_type")).agg(count(lit(1)).as("n"))
          .write.mode("append").format("noop").save()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(parts.exists(_ > 1),
      s"backfill batch planned no member-parallel partitions: $parts")
    // and the same stream counted through a fresh query yields exactly
    // the archive's records (no dup/loss across slices)
    val q2 = spark.readStream.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(landing.toString)
      .groupBy(lit(1)).agg(count(lit(1)).as("n"),
        sum(col("content_length")).as("bytes"))
      .writeStream.format("memory").queryName("backfill_counts")
      .outputMode("complete").start()
    try {
      q2.processAllAvailable()
      val r = spark.sql("SELECT n, bytes FROM backfill_counts").head
      assert(r.getLong(0) == 50L && r.getLong(1) == 527846L)
    } finally q2.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(landing.toFile)
  }

  test("a micro-batch of 8 landed archives packs them into fewer " +
      "partitions than files; its rows equal the single-file scans'") {
    val landing = Files.createTempDirectory("warc-landing-pack")
    val names = (0 until 8).map(i => s"pack-$i.warc.gz")
    names.foreach(n => Files.copy(Paths.get(graft.sources.BenchCorpus.FixtureGz),
      landing.resolve(n)))
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val query = spark.readStream.format("warc").load(landing.toString)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        parts += df.rdd.getNumPartitions
        seen ++= df.select("filename", "offset", "record_id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try query.processAllAvailable() finally query.stop()
    assert(parts.nonEmpty && parts.head < names.size,
      s"8 small archives planned ${parts.head} partitions")
    val single = names.flatMap(n =>
      spark.read.format("warc").load(landing.resolve(n).toString)
        .select("filename", "offset", "record_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))))
    assert(seen.sorted == single.sorted && seen.size == 400)
    org.apache.commons.io.FileUtils.deleteDirectory(landing.toFile)
  }

  test("streaming scan consumes .warc.zst landings — codec auto-detect " +
      "holds in the micro-batch path, dictionary archives included") {
    val landing = Files.createTempDirectory("warc-zst-landing")
    // plain and trained-dict archives land in successive micro-batches
    val plain = {
      val out = new java.io.ByteArrayOutputStream()
      val in = new java.io.FileInputStream(graft.sources.BenchCorpus.FixtureGz)
      try graft.core.WarcWriter.recompress(in, out, graft.core.WarcWriter.Zstd)
      finally in.close()
      out.toByteArray
    }
    Files.write(landing.resolve("batch-a.warc.zst"), plain)
    val stream = spark.readStream.format("warc").load(landing.toString)
    val query = stream.groupBy(col("record_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("warc_zst_stream")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM warc_zst_stream").head.getLong(0) == 50L)
      val dictOut = new java.io.ByteArrayOutputStream()
      graft.core.WarcWriter.recompressZstdTrained(
        () => new java.io.FileInputStream(graft.sources.BenchCorpus.FixtureGz),
        dictOut)
      Files.write(landing.resolve("batch-b.warc.zst"), dictOut.toByteArray)
      query.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM warc_zst_stream").head.getLong(0) == 100L)
    } finally query.stop()
  }

  test("streaming scan with emit_member_index leaves a sidecar per " +
      "consumed archive (the backfill regime's free index)") {
    val landing = Files.createTempDirectory("warc-landing-emit")
    val idxDir = Files.createTempDirectory("warc-landing-emit-idx")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    Files.copy(src, landing.resolve("a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val query = spark.readStream.format("warc")
      .option("emit_member_index", idxDir.toString)
      .load(landing.toString)
      .select(col("record_id"))
      .writeStream.format("memory").queryName("warc_stream_emit")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      Files.copy(src, landing.resolve("b.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
      query.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM warc_stream_emit").head.getLong(0) == 100L)
      for (name <- Seq("a.warc.gz", "b.warc.gz")) {
        val idx = idxDir.resolve(name + ".idx").toFile
        assert(idx.exists(), s"$name: no sidecar from the streaming scan")
        val s = scala.io.Source.fromFile(idx, "UTF-8")
        val n = try s.getLines().size finally s.close()
        assert(n == 50, s"$name: $n members indexed")
      }
    } finally query.stop()
  }

  test("max_files_per_trigger bounds each micro-batch's admitted archives") {
    val landing = Files.createTempDirectory("warc-landing-mft")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    // a 3-file backlog BEFORE the query starts — the restart-with-backlog
    // shape that must trickle, not land in one giant batch
    for (n <- Seq("a", "b", "c"))
      Files.copy(src, landing.resolve(s"backlog-$n.warc.gz"),
        StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.format("warc")
      .option("max_files_per_trigger", "1").load(landing.toString)
    val query = stream
      .groupBy(col("record_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("warc_stream_mft")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM warc_stream_mft").head.getLong(0) == 150L)
      // 3 data-bearing micro-batches of 50 records each, never one of 150
      val rowCounts = query.recentProgress.toSeq
        .map(_.numInputRows).filter(_ > 0)
      assert(rowCounts.count(_ == 50L) == 3 && !rowCounts.exists(_ > 50L),
        s"expected 3 batches of 50, got $rowCounts")
    } finally query.stop()
  }

  test("streaming ingest dedups repeated page content across micro-batches") {
    // the streaming counterpart of d01 exact dedup: a landing dir keeps
    // receiving archives that re-crawl the same pages; watermarked
    // stateful dedup on the content fingerprint emits each page ONCE
    // and lets Spark expire state past the watermark (bounded memory at
    // 100 TB ingest — an unbounded dropDuplicates would never GC)
    val landing = Files.createTempDirectory("warc-landing-dedup")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    Files.copy(src, landing.resolve("crawl-a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.format("warc")
      .option("record_types", "response").load(landing.toString)
      .select(col("record_date").as("ts"), md5(col("http_body")).as("fp"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("fp")
    val query = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM dedup_stream").head.getLong(0)
      val uniq = spark.sql("SELECT count(DISTINCT fp) FROM dedup_stream").head.getLong(0)
      assert(n1 == uniq, "each fingerprint must be emitted exactly once")
      assert(n1 > 0L)
      // a re-crawl of the SAME pages lands: no new rows may be emitted
      Files.copy(src, landing.resolve("crawl-b.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
      query.processAllAvailable()
      val n2 = spark.sql("SELECT count(*) FROM dedup_stream").head.getLong(0)
      assert(n2 == n1, s"re-crawled duplicates leaked: $n1 -> $n2")
    } finally query.stop()
  }

  test("end-to-end streaming ingest: extract -> quality gate -> dedup in one query") {
    // the full training-data ingest pipeline as ONE streaming query:
    // scan newly landed archives, extract text in the scan stage,
    // language-id + token-count quality gate, then watermarked
    // stateful dedup on the content fingerprint — each stage the same
    // operator the batch pipeline (w29) uses, which is the point of
    // Spark's unified API
    import graft.functions.{TextAnalysis, Web}
    val landing = Files.createTempDirectory("warc-landing-e2e")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    Files.copy(src, landing.resolve("crawl-a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val pipeline = spark.readStream.format("warc")
      .option("record_types", "response").load(landing.toString)
      .select(col("record_date").as("ts"),
        Web.extractPlainText(col("http_body"), col("http_charset")).as("text"))
      .filter(col("text").isNotNull)
      .select(col("ts"), col("text"),
        Web.detectLang(col("text")).getField("lang").as("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .filter(col("n_tokens") >= 10)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("fp")
    val query = pipeline.writeStream.format("memory").queryName("ingest_e2e")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM ingest_e2e").head.getLong(0)
      assert(n1 > 0L)
      assert(spark.sql("SELECT count(DISTINCT fp) FROM ingest_e2e").head.getLong(0) == n1)
      assert(spark.sql(
        "SELECT count(*) FROM ingest_e2e WHERE lang IS NULL OR n_tokens < 10")
        .head.getLong(0) == 0L)
      // a re-crawl of identical pages must contribute nothing
      Files.copy(src, landing.resolve("crawl-b.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
      query.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ingest_e2e").head.getLong(0) == n1)
    } finally query.stop()
  }

  test("stream restart from checkpoint does not re-read consumed archives") {
    // exercises offset serialization round-trips (the compact
    // cutoff+files form) across a query restart
    val landing = Files.createTempDirectory("warc-landing-ckpt")
    val ckpt = Files.createTempDirectory("warc-ckpt")
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    Files.copy(src, landing.resolve("one.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    def start() = spark.readStream.format("warc").load(landing.toString)
      .groupBy(col("record_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("warc_ckpt_counts")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("complete").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.sql("SELECT sum(n) FROM warc_ckpt_counts").head.getLong(0) == 50L)
    // restart: the checkpointed offset must cover the consumed file; only
    // the newly landed one may produce rows
    Files.copy(src, landing.resolve("two.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM warc_ckpt_counts").head.getLong(0) == 100L)
    } finally q2.stop()
  }

  test("windowed type counts with watermark run on the streaming source") {
    val landing = Files.createTempDirectory("warc-landing2")
    Files.copy(Paths.get(graft.sources.BenchCorpus.FixtureGz),
      landing.resolve("a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.format("warc").load(landing.toString)
    val query = EventTime.startToMemory(stream, "warc_windowed")
    try {
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT record_type, n_records FROM warc_windowed").collect()
      assert(rows.nonEmpty)
      // all 50 records fall in the same crawl hour
      assert(rows.map(_.getLong(1)).sum == 50L)
    } finally query.stop()
  }

  test("event-time transforms give identical results on batch frames") {
    val batch = spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz)
    val counts = EventTime.windowedTypeCounts(batch, "1 hour")
      .orderBy(col("window.start"), col("record_type"))
      .collect()
    assert(counts.map(_.getAs[Long]("n_records")).sum == 50L)
    // fixture spans 16:54 - 18:39 UTC -> 3 distinct hours
    assert(counts.map(_.getStruct(0).getTimestamp(0)).distinct.length == 3)
  }

  test("per-host stateful progress on batch frames") {
    val batch = spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureRaw)
      .filter(col("record_type") === "response")
    val hosts = EventTime.hostProgress(batch).collect()
    assert(hosts.nonEmpty)
    assert(hosts.map(_.nRecords).sum == 16L)
    assert(hosts.forall(_.host.nonEmpty))
  }

  test("flatMapGroupsWithState first-seen gate: emit once, count, expire") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    val query = EventTime.firstSeenGate(mem.toDF.toDF("ts", "fp"))
      .writeStream.format("memory").queryName("first_seen_gate")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"))
      query.processAllAvailable()
      val firsts = spark.sql(
        "SELECT fp, kind, nDuplicates FROM first_seen_gate ORDER BY fp").collect()
      assert(firsts.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("a", "first"), ("b", "first")))
      // later duplicates are suppressed (no new rows), only counted
      mem.addData((ts(3), "a"), (ts(4), "a"))
      query.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM first_seen_gate").head.getLong(0) == 2L)
      // advance the watermark past first-seen + 1 day: state expires and
      // the gate reports what it absorbed (a: 3 dups, b: 0). One batch
      // moves the watermark, the next fires the timeouts.
      mem.addData((ts(2 * 86400 + 60), "c"))
      query.processAllAvailable()
      mem.addData((ts(2 * 86400 + 120), "d"))
      query.processAllAvailable()
      val expired = spark.sql(
        """SELECT fp, nDuplicates FROM first_seen_gate
           WHERE kind = 'expired' ORDER BY fp""").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(expired("a") == 3L && expired("b") == 0L)
    } finally query.stop()
  }

  test("first-seen gate soak: 56 waves with a kill every 8, every " +
      "fingerprint firsts exactly once across restarts, expiries carry " +
      "exact duplicate counts, and state drains back to the live key") {
    val s = spark
    import s.implicits._
    val landing = java.nio.file.Files.createTempDirectory("gate-soak")
    val ckpt = java.nio.file.Files.createTempDirectory("gate-soak-ckpt").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    val nWaves = 50
    // wave w at t = 5w s: one always-live fingerprint ("hot" — its 5 s
    // cadence stays inside the 10 s horizon, so it is re-armed every
    // wave and never expires) + one wave-local fingerprint arriving 3
    // times (1 first + exactly 2 duplicates, all inside the horizon);
    // 6 hot-only drain waves on the same cadence then push the
    // watermark past every local's expiry WITHOUT ever silencing hot
    // beyond the horizon (a +30 s drain gap would legitimately expire
    // and re-first hot — any fingerprint quiet past the watermark does)
    def waveRows(w: Int): Seq[(java.sql.Timestamp, String)] =
      if (w >= nWaves) Seq((ts(w * 5L), "hot"))
      else Seq((ts(w * 5L), "hot"), (ts(w * 5L), s"w$w"),
        (ts(w * 5L + 1), s"w$w"), (ts(w * 5L + 2), s"w$w"))
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Long)]())
    def start() = EventTime.firstSeenGate(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("fp",
              org.apache.spark.sql.types.StringType))))
          .parquet(landing.toString),
        watermark = "10 seconds")
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[EventTime.DedupEmit], _: Long) =>
          df.collect().foreach(e => seen.add((e.fp, e.kind, e.nDuplicates)))
      }.start()
    var q = start()
    var lastStateRows = -1L
    try {
      for (w <- 0 until (nWaves + 6)) {
        waveRows(w).toDF("ts", "fp").coalesce(1)
          .write.mode("append").parquet(landing.toString)
        q.processAllAvailable()
        Option(q.lastProgress).filter(_.stateOperators.nonEmpty)
          .foreach(p => lastStateRows = p.stateOperators.head.numRowsTotal)
        if (w % 8 == 7 && w < nWaves + 5) { q.stop(); q = start() }
      }
    } finally q.stop()
    val rows = seen.toArray(Array.empty[(String, String, Long)]).toVector
    val firsts = rows.filter(_._2 == "first").map(_._1)
    // exactly-once across 6 restarts: one `first` per fingerprint
    assert(firsts.sorted == ("hot" +: (0 until nWaves).map(w => s"w$w")).sorted,
      s"firsts wrong: ${firsts.sorted}")
    val expired = rows.filter(_._2 == "expired").map(r => r._1 -> r._3)
    // every local expired exactly once with its exact duplicate count;
    // hot was re-armed every wave and never expired
    assert(expired.map(_._1).sorted == (0 until nWaves).map(w => s"w$w").sorted,
      s"expired set wrong: ${expired.map(_._1).sorted}")
    assert(expired.forall(_._2 == 2L),
      s"duplicate counts wrong: ${expired.filter(_._2 != 2L)}")
    // state drained back to the single live key after the drain waves
    assert(lastStateRows == 1L, s"state not drained: $lastStateRows rows")
  }

  test("dropDuplicatesWithinWatermark: late arrivals across micro-batches " +
      "are deduped inside the horizon and dropped beyond it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $t")
    val query = mem.toDF.toDF("ts", "fp")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      // batch 1: A and B at 10:00, plus a 13:00 row that will advance
      // the watermark to 12:00 once the batch commits
      mem.addData((ts("10:00:00"), "A"), (ts("10:00:00"), "B"), (ts("13:00:00"), "W"))
      query.processAllAvailable()
      // batch 2, all LATE event times in a new micro-batch:
      //  - duplicate A at 10:30 (behind the 12:00 watermark): dropped by
      //    the watermark filter, so still suppressed — never re-emitted
      //  - NEW fp C at 10:30 (behind the watermark): dropped entirely;
      //    this is the state-bounding contract that holds at 100 TB/day
      //  - NEW fp D at 12:30 (late but inside the horizon): emitted once
      //  - duplicate D at 12:31 in the same batch: suppressed
      mem.addData((ts("10:30:00"), "A"), (ts("10:30:00"), "C"),
        (ts("12:30:00"), "D"), (ts("12:31:00"), "D"))
      query.processAllAvailable()
      val emitted = spark.sql("SELECT fp FROM wm_dedup ORDER BY fp").collect()
        .map(_.getString(0)).toSeq
      assert(emitted == Seq("A", "B", "D", "W"), emitted)
    } finally query.stop()
  }
  test("session_window streaming: sessions MERGE across micro-batches " +
      "inside the gap and split beyond it, equal to the batch rendition") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Long)]
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $t")
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("host"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("b"))
      .select(col("host"),
        date_format(col("session_window.start"), "HH:mm:ss").as("start"),
        col("n"), col("b"))
    val query = sessions(mem.toDF.toDF("ts", "host", "bytes")
        .withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("sess_mem")
      .outputMode("complete").start()
    try {
      // batch 1: host A twice within the gap; host B once
      mem.addData((ts("10:00:00"), "A", 10L), (ts("10:03:00"), "A", 20L),
        (ts("10:00:00"), "B", 5L))
      query.processAllAvailable()
      // batch 2: A again within 5 min of its last event -> same session
      // MERGES ACROSS THE MICRO-BATCH BOUNDARY; then A after a >5 min
      // silence -> a second session
      mem.addData((ts("10:07:00"), "A", 30L), (ts("10:20:00"), "A", 40L))
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM sess_mem ORDER BY host, start")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == Seq(("A", "10:00:00", 3L, 60L), ("A", "10:20:00", 1L, 40L),
        ("B", "10:00:00", 1L, 5L)), got)
      // batch rendition of the union of both feeds is identical
      val batch = sessions(Seq(
        (ts("10:00:00"), "A", 10L), (ts("10:03:00"), "A", 20L),
        (ts("10:00:00"), "B", 5L), (ts("10:07:00"), "A", 30L),
        (ts("10:20:00"), "A", 40L)).toDF("ts", "host", "bytes"))
        .orderBy(col("host"), col("start"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(batch == got)
    } finally query.stop()
  }

  test("Trigger.AvailableNow: drains the files present at start in bounded " +
      "batches, terminates, and a later run resumes from the checkpoint") {
    val landing = Files.createTempDirectory("avnow-landing")
    val ckpt = Files.createTempDirectory("avnow-ckpt").toString
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    (1 to 3).foreach(i =>
      Files.copy(src, landing.resolve(s"drop-$i.warc.gz")))
    val batchSizes = collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("warc")
        .option("max_files_per_trigger", "1")
        .load(landing.toString)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batchSizes.synchronized { batchSizes += b.count() }
          ()
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow query must terminate")
    }
    run()
    // 3 files x 1-file batches: three 50-record batches, then done (the
    // source implements SupportsTriggerAvailableNow, so admission
    // control still applies instead of one unbounded fallback batch)
    assert(batchSizes.filter(_ > 0).toSeq == Seq(50L, 50L, 50L), batchSizes.toSeq)
    // a fourth drop lands AFTER the run: nothing reprocesses it until
    // the next AvailableNow run, which picks up exactly the new file
    Files.copy(src, landing.resolve("drop-4.warc.gz"))
    batchSizes.clear()
    run()
    assert(batchSizes.filter(_ > 0).toSeq == Seq(50L), batchSizes.toSeq)
  }

  test("replay contract (r18, ADVICE r16 item 5): a micro-batch replayed " +
      "after a sidecar appears between attempts is value-identical except " +
      "the offset column's coordinate system") {
    // WarcMicroBatchStream.planInputPartitions re-plans a replayed batch
    // against CURRENT sidecar state (documented at the call site): if an
    // `.idx` landed between attempts, the replay plans member-aligned
    // partitions where attempt 1 streamed the whole file. Model the two
    // attempts as two scans of the same admitted file set — attempt 1
    // without the sidecar, the "replay" with it — and pin the contract:
    // record set, contents, and totals identical; ONLY `offset` may
    // move (stream position -> compressed member address).
    val landing = Files.createTempDirectory("warc-replay-sidecar")
    val (_, offs) = graft.sources.BenchCorpus.ensureMemberArchive(
      landing.toString)
    def scanRows() = {
      val q = spark.readStream.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .load(landing.toString)
        .selectExpr("record_id", "record_type",
          "content_length", "md5(http_body) AS body_md5", "offset")
        .writeStream.format("memory").queryName("replay_attempt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("replay_attempt").collect()
      spark.catalog.dropTempView("replay_attempt")
      rows
    }
    val attempt1 = scanRows()
    // the sidecar "lands between attempts"
    Files.write(landing.resolve("members.warc.gz.idx"),
      offs.map(o => s"""{"filename": "members.warc.gz", "offset": $o}""")
        .mkString("\n").getBytes("UTF-8"))
    val attempt2 = scanRows()
    def key(r: org.apache.spark.sql.Row) =
      (0 until r.length - 1).map(i => String.valueOf(r.get(i))).mkString("|")
    assert(attempt1.length == attempt2.length)
    assert(attempt1.map(key).sorted.toSeq == attempt2.map(key).sorted.toSeq,
      "replayed record set/contents diverged beyond the offset column")
    // and the offset coordinate system DID change for mid-file records
    // (whole-file stream positions -> member addresses), so the pin
    // exercises the real divergence, not a trivially-identical pair
    val off1 = attempt1.map(r => r.getLong(r.length - 1)).sorted.toSeq
    val off2 = attempt2.map(r => r.getLong(r.length - 1)).sorted.toSeq
    assert(off1 != off2,
      "sidecar had no effect on partition planning — shape no longer " +
        "exercises the replay divergence; rebuild the fixture")
    org.apache.commons.io.FileUtils.deleteDirectory(landing.toFile)
  }

  test("exactly-once warc sink: a REPLAYED micro-batch overwrites its own " +
      "output — no duplicates, no loss, for any number of replays") {
    val out = Files.createTempDirectory("eo-warc-replay").toString
    val writer = ExactlyOnce.warcBatchWriter(out, Map("checksum" -> "true"))
    val batch0 = spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz)
      .filter(col("record_type") === "response")
      .select(col("record_id"), col("record_type"), col("record_date"),
        col("headers"), col("content"))
    // first delivery, then two replays of the SAME batch id (the
    // crash-between-sink-commit-and-checkpoint-commit schedule); a
    // second batch id lands independently
    writer(batch0, 0L)
    writer(batch0, 0L)
    writer(batch0.repartition(3), 0L) // replay may repartition — still idempotent
    writer(batch0.limit(4), 1L)
    val got = spark.read.format("warc").load(s"$out/batch-*")
      .groupBy(col("record_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = batch0.select("record_id").collect().map(_.getString(0)).toSet
    assert(got.keySet.size == 16 + 0) // batch-1 ids are a subset of batch-0's
    // each of batch-0's 16 responses appears once, except the 4 also in
    // batch-1 (distinct batch ids are distinct deliveries, not replays)
    assert(got.values.count(_ == 2L) == 4, got)
    assert(got.values.count(_ == 1L) == 12, got)
    assert(got.keySet == want)
  }

  test("streaming warc export restart: checkpoint -> stop -> land new " +
      "archive -> resume: the derived archive has every record exactly once") {
    val landing = Files.createTempDirectory("eo-warc-landing")
    val ckpt = Files.createTempDirectory("eo-warc-ckpt").toString
    val out = Files.createTempDirectory("eo-warc-out").toString
    val src = Paths.get(graft.sources.BenchCorpus.FixtureGz)
    def start() = spark.readStream.format("warc")
      .option("record_types", "response").load(landing.toString)
      .select(col("record_id"), col("record_type"), col("record_date"),
        col("headers"), col("content"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(ExactlyOnce.warcBatchWriter(out)).start()
    Files.copy(src, landing.resolve("drop-a.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // kill/resume with a new drop: the checkpoint must not replay drop-a
    // into a fresh batch id (which WOULD duplicate), and drop-b must land
    Files.copy(src, landing.resolve("drop-b.warc.gz"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val counts = spark.read.format("warc").load(s"$out/batch-*")
      .groupBy(col("record_id")).agg(count(lit(1)).as("n"))
    // both drops are copies of the same fixture: each of the 16 response
    // ids appears exactly twice (once per drop), never 3+ (no replay dup)
    val rows = counts.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(rows.length == 16, s"16 distinct ids, got ${rows.length}")
    assert(rows.forall(_._2 == 2L), s"each id exactly twice: ${rows.toSeq}")
  }

  test("bulk sink restart idempotence: recommitting the same bundle under " +
      "the same deterministic name replaces, never duplicates") {
    val dir = Files.createTempDirectory("eo-bulk").toString
    val docs = (1 to 10).map(i => (s"doc-$i", s"""{"v":$i}"""))
    def commitAttempt(tag: String, payload: Seq[(String, String)]): Unit = {
      val b = new graft.sinks.HadoopJsonLinesBackend(dir, "part-00000.jsonl", tag)
      val sink = new graft.sinks.BulkSink(b, bufferSize = 4, chunkSize = 2)
      payload.foreach { case (id, d) => sink.add(id, d) }
      sink.flush()
      b.commit()
      sink.close()
    }
    commitAttempt("attempt-1", docs)
    // replayed bundle (same partition, new attempt) after a simulated
    // crash-before-checkpoint: same deterministic file name -> replace
    commitAttempt("attempt-2", docs)
    val lines = scala.io.Source.fromFile(s"$dir/part-00000.jsonl").getLines().toSeq
    assert(lines.size == 10, s"exactly one copy of each doc: ${lines.size}")
    assert(lines.map(_.split("\t")(0)).sorted == docs.map(_._1).sorted)
    // an ABANDONED attempt (no commit) leaves nothing visible
    val b3 = new graft.sinks.HadoopJsonLinesBackend(dir, "part-00000.jsonl", "attempt-3")
    b3.bulkIndex(Seq("ghost" -> "{}"))
    b3.close() // close without commit = crash cleanup
    val after = new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith("."))
    assert(after.toSeq == Seq("part-00000.jsonl"))
    assert(scala.io.Source.fromFile(s"$dir/part-00000.jsonl").getLines().size == 10)
  }
}
