package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Oracle-checked queries over the reference's own WARC fixture corpus
  * (50 Common Crawl records, built by [[graft.sources.BenchCorpus]]; see
  * FIXTURES.md).
  *
  * These exercise the `spark.read.format("warc")` DataSource V2 end to
  * end: codec sniffing (raw/gzip/LZ4), envelope parse, HTTP split, digest
  * verification, and the CDXJ lead()-window index shape. The oracles are
  * static literals independently derived from the raw fixture bytes (NOT
  * from this parser), so they cross-check the whole scan pipeline.
  * Expected values match the reference's own test pins
  * (tests/fastwarc/test_warc.py:21-22 NUM_RECORDS=50 etc.).
  */
object Warc {

  import graft.sources.BenchCorpus.{FixtureDir, FixtureGz}

  /** Session-unique suffix for scratch dirs and memory-sink names: two
    * concurrent JVMs never race on the same tmp path or global temp
    * view (the w44 advice, generalized to every query that stages under
    * java.io.tmpdir), while within one JVM re-runs reuse the same
    * delete-first dir so repeated bench sweeps don't leak tmp space.
    * BenchCorpus paths are excluded on purpose — their cross-run reuse
    * is the point.
    */
  private def SessionToken: String = Scratch.SessionToken
  private def scratch(name: String): String = Scratch.dir(name)

  private def scan(s: SparkSession, file: String): DataFrame =
    s.read.format("warc").load(s"$FixtureDir/$file")

  /** Distributed CDXJ hit resolution: group (url, filename, offset) hits
    * by (archive, 16 MiB compressed offset range) and serve each group's
    * offsets ASCENDING through one open stream (`WarcPointLookup
    * .extractAll`: one file open, ONE head-dictionary probe/load for
    * trained-dict `.warc.zst`, forward seeks) — per-hit `extract`
    * re-opened the archive and re-loaded the dictionary on every lookup.
    * Scale shape: parallelism derives from the HIT distribution (more
    * hits touch more ranges → more groups, capped by
    * spark.sql.shuffle.partitions); the offset-range sub-key splits a
    * hot archive across tasks while keeping each group's collect bounded
    * by the members inside 16 MiB of compressed bytes. Output columns:
    * url, filename, offset, content_length (−1 = not extracted),
    * target_uri (null = not extracted).
    */
  def resolvePointReads(
      hits: org.apache.spark.sql.Dataset[(String, String, Long)]): DataFrame = {
    val s = hits.sparkSession
    import s.implicits._
    // ship the filesystem-relevant hadoop conf (same serializable subset
    // the scan's reader factory ships) so executors can open any
    // registered scheme — s3a, testfs, http — not just local paths
    val fsProps: Map[String, String] = {
      val conf = graft.sources.WarcInput.withHttpFs(
        s.sessionState.newHadoopConf())
      import scala.jdk.CollectionConverters._
      conf.iterator().asScala.map(e => e.getKey -> e.getValue)
        .filter { case (k, _) => k.startsWith("fs.") || k.startsWith("io.") }
        .toMap
    }
    hits.groupByKey { case (_, file, off) => (file, off >>> 24) }
      .flatMapGroups { (key: (String, Long), it: Iterator[(String, String, Long)]) =>
        val file = key._1
        val group = it.toArray
        val offs = group.map(_._3).toSeq
        // local archives take the FileChannel fast path; every other
        // scheme goes through the Hadoop FileSystem — fs.open once per
        // group, seek per hit (a ranged GET reposition on s3a), one
        // dictionary probe
        val isLocal = file.startsWith("file:") || !file.contains(":/")
        val recs =
          if (isLocal) {
            val path = if (file.startsWith("file:"))
              new java.net.URI(file).getPath else file
            graft.core.WarcPointLookup.extractAll(path, offs)
          } else {
            // per-JVM cached Configuration: constructing one per group
            // (default-XML resource parse) would dominate small groups
            // at million-hit scale
            val conf = graft.sources.WarcInput.cachedConf(fsProps)
            graft.core.WarcPointLookup.extractAllFs(
              new org.apache.hadoop.fs.Path(file), offs,
              graft.core.WarcParseOptions(), conf)
          }
        group.iterator.map { case (url, _, off) =>
          val rec = recs.getOrElse(off, None)
          (url, file, off, rec.map(_.contentLength).getOrElse(-1L),
            rec.flatMap(_.headers.getFirst("WARC-Target-URI")).orNull)
        }
      }.toDF("url", "filename", "offset", "content_length", "target_uri")
  }

  /** The w31 WET-export pre-write frame, exposed so WarcPlanSpec can pin
    * its physical plan (w31's own entry writes this frame and returns an
    * aggregate over the read-back output, so the extraction plan is not
    * visible in the returned DataFrame).
    *
    * Plan shape: ONE collapsed projection evaluates the extraction kernel
    * once; `nullif(text, '')` folds the old `text IS NOT NULL AND
    * length(text) > 0` filter into the content column (null = drop), and
    * the sink's `drop_null_content` option drops those rows at write time.
    * A filter on `text` would be pushed below the projection; with
    * `graft.GraftExtensions` registered, [[graft.plans.KernelOnce]] still
    * evaluates the kernel once, but this shape is kept because the oracle
    * pins it and it evaluates once in a session without the extension too.
    */
  def wetExportFrame(s: SparkSession): DataFrame =
    wetRows(scan(s, "warcfile.warc.gz").filter(col("record_type") === "response"))

  /** WET conversion-record projection over a response frame — shared by
    * the batch export (w31) and the streaming export (w38), so the
    * derived-archive semantics cannot drift between the two paths.
    */
  def wetRows(responses: DataFrame): DataFrame = {
    import graft.functions.{WarcCols, Web}
    responses
      .select(col("record_id").as("src_id"),
        WarcCols.targetUri(col("headers")).as("uri"),
        col("record_date"),
        Web.extractPlainText(col("http_body"), col("http_charset")).as("text"))
      .select(
        concat(lit("<urn:wet:"), md5(col("src_id")), lit(">")).as("record_id"),
        lit("conversion").as("record_type"),
        col("record_date"),
        array(
          struct(lit("WARC-Target-URI").as("key"), col("uri").as("value")),
          struct(lit("WARC-Refers-To").as("key"), col("src_id").as("value")),
          struct(lit("Content-Type").as("key"),
            lit("text/plain; charset=utf-8").as("value"))).as("headers"),
        encode(nullif(col("text"), lit("")), "UTF-8").as("content"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Record-type histogram over the gzip variant (codec auto-detect +
    // envelope-only scan: column pruning must keep payloads unread).
    "w01_warc_types" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .groupBy(col("record_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("record_type"))
    }),

    // HTTP response projection: status + media type derivations.
    "w02_warc_http" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .groupBy(col("http_status"), col("http_content_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("http_status"), col("http_content_type"))
    }),

    // Digest verification summary (reference `verify_digests` report,
    // fastwarc-py/fastwarc/tools.pyx:155-197).
    "w03_warc_digests" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .agg(
          count(lit(1)).as("n_records"),
          count(col("block_digest_ok")).as("n_block_present"),
          sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_block_ok"),
          count(col("payload_digest_ok")).as("n_payload_present"),
          sum(when(col("payload_digest_ok"), 1L).otherwise(0L)).as("n_payload_ok"))
    }),

    // Offset accounting across the decompressed stream (stream_pos
    // semantics, warc.pyx:712-719): first five records.
    "w04_warc_offsets" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .select(col("offset"), col("record_type"), col("content_length"))
        .orderBy(col("offset")).limit(5)
    }),

    // All three codec variants decode to the identical record stream.
    "w05_warc_codecs" -> ((s, _) => {
      // identical aggregates across all FIVE codecs prove codec
      // equivalence of the whole parse
      s.read.format("warc")
        .load(Seq("warc", "warc.gz", "warc.lz4", "warc.br", "warc.zst")
          .map(ext => s"$FixtureDir/warcfile.$ext"): _*)
        .groupBy(regexp_extract(col("filename"), "([^/]+)$", 1).as("file"))
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("sum_content_length"))
        .orderBy(col("file"))
    }),

    // Charset extraction from the HTTP Content-Type parameter.
    "w06_warc_charsets" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .groupBy(coalesce(col("http_charset"), lit("none")).as("http_charset"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("http_charset"))
    }),

    // CDXJ index rows: length of a record = next record's offset − its own
    // (one-record lookahead, fastwarc-py/fastwarc/cli.py:277-283) as a
    // lead() window partitioned by file — the scan's scale-safe shape.
    // The LAST record's length falls back to the scan-provided file_size
    // (next-offset-or-file-size, cli.py:277-283) — corpus-generic, no
    // fixture constants.
    "w07_warc_cdxj" -> ((s, _) => {
      val w = Window.partitionBy(col("filename")).orderBy(col("offset"))
      scan(s, "warcfile.warc")
        .select(col("offset"), col("record_type"), col("filename"), col("file_size"),
          // arbitrary header fields ride along in CDXJ records (the
          // reference CLI's index subcommand, fastwarc/cli.py:225-253);
          // Last-Modified is the one the r7 column parses
          col("http_last_modified").as("last_modified"))
        .withColumn("length",
          coalesce(lead(col("offset"), 1).over(w), col("file_size")) - col("offset"))
        .select(col("offset"), col("length"), col("record_type"), col("last_modified"))
        .orderBy(col("offset"))
    }),

    // Pushdown path: record_types option + min_content_length reach the
    // parser, so filtered payloads are skipped, never buffered.
    "w08_warc_pushdown" -> ((s, _) => {
      s.read.format("warc")
        .option("record_types", "response")
        .option("min_content_length", 20000)
        .load(s"$FixtureDir/warcfile.warc.gz")
        .agg(count(lit(1)).as("n"), sum(col("content_length")).as("total_bytes"))
    }),

    // MIME sniffing over the decoded HTTP bodies (detect_mime,
    // encoding.pyx:370-406): magic bytes + XHTML refinement.
    "w09_warc_mime" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .groupBy(graft.functions.Web.detectMime(col("http_body")).as("mime"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("mime"))
    }),

    // Charset detection (meta probe + ICU statistics + WHATWG remap,
    // encoding.pyx:196-258) over response bodies; cross-checkable against
    // the HTTP charset headers (cp1251 page declares windows-1251).
    "w10_warc_encodings" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .groupBy(graft.functions.Web.detectEncoding(col("http_body")).as("enc"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("enc"))
    }),

    // Full decode pipeline: bytes -> detected charset -> resilient decode
    // ladder; total decoded char count is deterministic.
    "w11_warc_decoded_text" -> ((s, _) => {
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .agg(sum(length(graft.functions.Web.decodeText(col("http_body"))))
               .as("total_chars"),
             count(lit(1)).as("n"))
    }),

    // HTML parse + DOM query per record: title extraction and CSS
    // counting over real Common Crawl pages (HTMLTree.parse_from_bytes +
    // query_selector_all, html.pyx:1748-1767,1071-1107).
    "w12_warc_html" -> ((s, _) => {
      import graft.functions.Web
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(
          length(Web.htmlTitle(col("http_body"), col("http_charset"))).as("title_len"),
          Web.countCss(col("http_body"), col("http_charset"), "a[href]").as("n_links"),
          Web.countCss(col("http_body"), col("http_charset"), "div").as("n_divs"))
        .orderBy(col("title_len"), col("n_links"))
    }),

    // Write path round-trip: scan -> Dataset.write.format("warc") with
    // member-per-record gzip + recomputed digests -> re-scan -> verify
    // (reference WarcRecord.write + check_warc_integrity,
    // warc.pyx:840-938, test_warc.py:455-468).
    "w14_warc_roundtrip" -> ((s, _) => {
      val out = scratch("w14_roundtrip")
      // append-mode writes accumulate across jobs (by design); this query
      // wants a fresh round-trip, so clear the scratch dir first
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id"), col("record_type"), col("record_date"),
          col("headers"), col("content"))
        .coalesce(1)
        .write.format("warc").option("checksum", "true").mode("append").save(out)
      s.read.format("warc").load(out)
        .agg(count(lit(1)).as("n"),
          sum(col("content_length")).as("total_bytes"),
          sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_digest_ok"),
          count(graft.functions.WarcCols.targetUri(col("headers"))).as("n_with_uri"))
    }),

    // Request<->response pairing via WARC-Concurrent-To — the one real
    // join the reference's data model implies (is_concurrent,
    // warc.pyx:1336-1344). In this corpus responses point AT their
    // request (and metadata at its response); broadcast-friendly
    // equi-join on record ids.
    "w15_warc_req_resp" -> ((s, _) => {
      import graft.functions.WarcCols
      val recs = scan(s, "warcfile.warc.gz")
      val responses = recs.filter(col("record_type") === "response")
        .select(WarcCols.concurrentTo(col("headers")).as("req_id"),
          col("content_length").as("resp_bytes"))
      val requests = recs.filter(col("record_type") === "request")
        .select(col("record_id").as("request_id"))
      responses.join(broadcast(requests), col("req_id") === col("request_id"), "left_semi")
        .agg(count(lit(1)).as("n_paired"), sum(col("resp_bytes")).as("paired_bytes"))
    }),

    // Scan throughput vs BASELINE (gzip ~10.4k records/s/core,
    // BASELINE.md:11): envelope-only scan of a generated 10k-record
    // multi-member gzip corpus (32 files in parallel — one per core at
    // the bench's local[32]; real-scale inputs have files >> cores). Column pruning
    // means payloads are skipped, never buffered — records/s for this
    // query's bench timing is the comparable number.
    "w17_warc_scan10k" -> ((s, _) => {
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      s.read.format("warc").load(dir)
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("total_bytes"))
    }),

    // Same corpus with record-type pushdown + full HTTP parse of the kept
    // records (the reference benchmark's parse_http=true shape).
    "w18_warc_scan10k_http" -> ((s, _) => {
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      s.read.format("warc")
        .option("record_types", "response")
        .load(dir)
        .agg(count(lit(1)).as("n"),
             sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_200"),
             sum(length(col("http_body"))).as("body_bytes"))
    }),

    // The other two codec rows of the reference's benchmark table
    // (fastwarc.rst:296-327): the SAME 80k records as w17, stored
    // uncompressed (baseline 108,487 records/s — the no-decompression
    // scan ceiling) and as back-to-back LZ4 frames (baseline 49,825
    // records/s). Identical envelope-only aggregate, so the three bench
    // timings expose the per-codec scan cost in isolation.
    "w33_warc_scan_uncompressed" -> ((s, _) => {
      val dir = graft.sources.BenchCorpus.ensureUncompressed(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench_raw",
        files = 32, copiesPerFile = 50)
      s.read.format("warc").load(dir)
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("total_bytes"))
    }),

    "w34_warc_scan_lz4" -> ((s, _) => {
      val dir = graft.sources.BenchCorpus.ensureLz4(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench_lz4",
        files = 32, copiesPerFile = 50)
      s.read.format("warc").load(dir)
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("total_bytes"))
    }),

    // Extraction throughput vs BASELINE (HTML parse ~1,150 docs/s/core,
    // docs/man/parse/html.rst:481-492): decode -> parse -> extract_plain_
    // text over 25,600 real Common Crawl pages (the bench corpus's 1600
    // fixture copies x 16 responses, spread over 32 files). This query's bench timing / 25600
    // is the comparable docs/s number; w12/w13 are too small to time.
    "w19_html_extract10k" -> ((s, _) => {
      import graft.functions.Web
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      s.read.format("warc")
        .option("record_types", "response")
        .load(dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(length(Web.extractPlainText(col("http_body"), col("http_charset"))))
            .as("total_len"))
    }),

    // Content-/Transfer-Encoding decode chain end-to-end through the scan
    // (auto_decode + chunked decode, warc.pyx:785-837, parse/http.pyx:
    // 28-63): a generated fixture with gzip/deflate/chunked+gzip/brotli
    // response bodies. The oracle recomputes the decoded digests itself
    // (DuckDB md5 over the same known plaintexts) — not a self-pin.
    "w20_warc_encoded_bodies" -> ((s, _) => {
      import graft.functions.{Web, WarcCols}
      val dir = graft.sources.BenchCorpus.ensureEncodedBodies(
        s"${System.getProperty("java.io.tmpdir")}/graft_w20_encoded")
      val decoded = Web.decodeHttpBody(col("http_body"),
        WarcCols.header(col("http_headers"), "Content-Encoding"),
        WarcCols.header(col("http_headers"), "Transfer-Encoding"))
      s.read.format("warc").load(dir)
        .filter(col("record_type") === "response")
        .select(
          regexp_extract(WarcCols.targetUri(col("headers")), "([^/]+)$", 1).as("enc"),
          decoded.as("d"))
        .select(col("enc"),
          array_join(col("d.applied"), ",").as("applied"),
          coalesce(col("d.failed"), lit("none")).as("failed"),
          length(col("d.body")).cast("int").as("decoded_len"),
          md5(col("d.body")).as("decoded_md5"))
        .orderBy(col("enc"))
    }),

    // ReadFromText analog (#9): Spark's Hadoop-split text source over a
    // deterministic 1000-line fixture (Beam ReadFromText semantics,
    // resiliparse SURVEY §2; the oracle RECOMPUTES the totals from
    // generate_series, nothing pinned).
    "w21_text_source" -> ((s, _) => {
      val f = graft.sources.BenchCorpus.ensureTextFixture(
        s"${System.getProperty("java.io.tmpdir")}/graft_text_fixture")
      s.read.text(f)
        .agg(count(lit(1)).as("n_lines"),
             sum(length(col("value"))).as("total_chars"))
    }),

    // Point lookup by compressed member offset (#12, reference `extract`,
    // fastwarc cli.py:185-222): re-member the fixture with the writer,
    // then extract every record by its reported offset as a distributed
    // map over the offset list; totals must equal the full-scan numbers
    // (independent python parse, FIXTURES.md).
    "w22_point_lookup" -> ((s, _) => {
      import s.implicits._
      val (path, offsets) = graft.sources.BenchCorpus.ensureMemberArchive(
        s"${System.getProperty("java.io.tmpdir")}/graft_members")
      s.createDataset(offsets)
        .repartition(4)
        .map { off =>
          graft.core.WarcPointLookup.extract(path, off)
            .map(_.contentLength).getOrElse(-1L)
        }
        .toDF("content_length")
        .agg(sum(when(col("content_length") >= 0, 1L).otherwise(0L)).as("n_found"),
             sum(col("content_length")).as("sum_content_length"))
    }),

    // recompress_warc (#15, tools.pyx:91-152): gzip -> LZ4 stream
    // recompression, then a full re-scan with digest verification —
    // the re-encoded archive must parse identically.
    "w23_recompress" -> ((s, _) => {
      val path = graft.sources.BenchCorpus.ensureRecompressed(
        s"${System.getProperty("java.io.tmpdir")}/graft_recompressed")
      s.read.format("warc").load(path)
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("sum_content_length"),
             sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_digest_ok"))
    }),

    // The CDXJ->member_index loop CLOSED end to end (Beam dynamic-split
    // analog, beam/warcio.py:101-109): write ONE large gzip archive with
    // the writer's member_index sidecar (compressed member offsets it
    // already knows), then re-scan that single .warc.gz IN PARALLEL —
    // member-aligned slices from the index, max_partition_bytes forcing
    // many splits. At 100 TB this is the difference between one executor
    // serially gunzipping a 1 GB archive and the whole cluster scanning
    // member slices of it.
    "w27_member_index_rescan" -> ((s, _) => {
      val out = scratch("w27_indexed")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      scan(s, "warcfile.warc.gz")
        .select(col("record_id"), col("record_type"), col("record_date"),
          col("headers"), col("content"), col("warc_version"))
        .crossJoin(s.range(0, 40, 1, 1)).drop("id") // 40 copies -> 2000 members, one file
        .coalesce(1)
        .write.format("warc").option("member_index", "true")
        .mode("append").save(out)
      s.read.format("warc")
        .option("member_index", out) // the .idx sidecars next to the data
        .option("max_partition_bytes", 256 * 1024)
        .load(out)
        .agg(count(lit(1)).as("n_records"),
             sum(col("content_length")).as("total_bytes"))
    }),

    // Foreign-archive side of the member-index loop (the w27 rescan
    // needs the sidecar the WRITER emitted; a stock Common Crawl file
    // has none — the reference covers it with Beam's dynamic splitting,
    // beam/warcio.py:101-109): graft.core.MemberIndex walks the foreign
    // container ONCE (gzip members proven by RFC 1952 parsing +
    // Inflater byte accounting, never magic-guessing), emits the same
    // .idx sidecar, and every scan after is member-parallel. The row
    // pins indexed-scan totals == plain serial-scan totals in-query.
    "w36_foreign_member_index" -> ((s, _) => {
      val dir = new java.io.File(
        scratch("w36_foreign"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      dir.mkdirs()
      val copy = new java.io.File(dir, "foreign.warc.gz")
      java.nio.file.Files.copy(java.nio.file.Paths.get(FixtureGz), copy.toPath)
      val rc = graft.tools.Cli.run(Array("index", "--members", copy.getPath),
        new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
      require(rc == 0, "member-index build failed")
      val nMembers = {
        val src = scala.io.Source.fromFile(copy.getPath + ".idx", "UTF-8")
        try src.getLines().size finally src.close()
      }
      def totals(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      val indexed = totals(s.read.format("warc")
        .option("member_index", dir.getPath)
        .option("max_partition_bytes", 16 * 1024) // force member-group splits
        .load(copy.getPath))
      val plain = totals(s.read.format("warc").load(copy.getPath))
      val mism = indexed.exceptAll(plain).count() + plain.exceptAll(indexed).count()
      indexed.withColumn("n_members", lit(nMembers.toLong))
        .withColumn("plain_equal", lit(mism == 0L))
    }),

    // Build-on-first-scan side of the member-index loop (vs w36's
    // DEDICATED MemberIndex pass): the FIRST full read of a foreign
    // archive carries `emit_member_index` — the decoder already crosses
    // every member boundary, so the offsets cost zero extra reads and
    // zero extra inflate work — and commits the same .idx sidecar the
    // WARC sink emits. The second read is member-parallel from that
    // sidecar. At 100 TB: the one serial pass any first read pays
    // leaves record-addressable random access behind it for every
    // scan after (the reference's Beam dynamic splits + seekable
    // GZipStream, beam/warcio.py:101-109, stream_io.pyx:561-591).
    // Pins: emitted member count, indexed == plain totals, and the
    // emitting scan's own totals == a plain scan's (the side-output
    // must not perturb the rows).
    "w46_emit_member_index" -> ((s, _) => {
      val dir = new java.io.File(scratch("w46_emit"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      dir.mkdirs()
      val copy = new java.io.File(dir, "foreign.warc.gz")
      java.nio.file.Files.copy(java.nio.file.Paths.get(FixtureGz), copy.toPath)
      def totals(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      // first read: ordinary whole-file scan + sidecar side-output
      val firstPass = totals(s.read.format("warc")
        .option("emit_member_index", dir.getPath)
        .load(copy.getPath)).collect()(0)
      val idxFile = new java.io.File(dir, copy.getName + ".idx")
      require(idxFile.exists(), "first scan left no member-index sidecar")
      val nMembers = {
        val src = scala.io.Source.fromFile(idxFile, "UTF-8")
        try src.getLines().size finally src.close()
      }
      // second read: member-parallel from the emitted sidecar
      val indexed = totals(s.read.format("warc")
        .option("member_index", dir.getPath)
        .option("max_partition_bytes", 16 * 1024)
        .load(copy.getPath))
      val plain = totals(s.read.format("warc").load(copy.getPath))
      val mism = indexed.exceptAll(plain).count() + plain.exceptAll(indexed).count()
      val firstEqual = plain.collect()(0) == firstPass
      indexed.withColumn("n_members", lit(nMembers.toLong))
        .withColumn("indexed_equal", lit(mism == 0L && firstEqual))
    }),

    // Option-FREE member-index loop closure (vs w46's explicit
    // `member_index` wiring): the first scan's side-output sidecar is
    // auto-discovered at plan time on the second scan — no option at
    // all — the way Beam re-splits a running read with zero user
    // configuration (beam/warcio.py:101-109). Pins: the option-free
    // second scan of ONE compressed file plans >1 partition (the
    // member-parallel proof), its totals equal the first pass, and
    // `auto_member_index=false` forces the old single-partition plan.
    // At 100 TB: scan once, then every scan after is member-parallel
    // with nobody having to know the sidecar exists.
    "w47_auto_member_index" -> ((s, _) => {
      val dir = new java.io.File(scratch("w47_auto"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      dir.mkdirs()
      val copy = new java.io.File(dir, "foreign.warc.gz")
      java.nio.file.Files.copy(java.nio.file.Paths.get(FixtureGz), copy.toPath)
      def totals(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      // first read: ordinary whole-file scan + sidecar side-output
      // (collected — the sidecar commits when the scan actually runs)
      val firstPass = totals(s.read.format("warc")
        .option("emit_member_index", dir.getPath)
        .load(copy.getPath)).collect()(0)
      require(new java.io.File(dir, copy.getName + ".idx").exists(),
        "first scan left no member-index sidecar")
      // second read: NO index option — the sidecar is discovered at
      // plan time; small max_partition_bytes forces member-group splits
      def second(auto: Boolean) = s.read.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .option("auto_member_index", auto)
        .load(copy.getPath)
      val autoParts = second(auto = true).rdd.getNumPartitions
      val disabledParts = second(auto = false).rdd.getNumPartitions
      val autoTotals = totals(second(auto = true))
      val autoEqual = autoTotals.collect()(0) == firstPass
      autoTotals
        .withColumn("auto_partitions_gt1", lit(autoParts > 1))
        .withColumn("disabled_partitions", lit(disabledParts.toLong))
        .withColumn("auto_equal", lit(autoEqual))
    }),

    // `.warc.zst` loop closure (RFC 8878 + the wget/IIPC zstd-WARC
    // convention — NOT a reference capability; fastwarc reads gzip/LZ4
    // only): the sink writes frame-per-record zstd with the `.idx`
    // sidecar, and the OPTION-FREE rescan of the single archive is
    // member-parallel, totals equal to the gzip fixture scan — the
    // full cross-codec write → index → parallel-read loop in one
    // query. At 100 TB the point is the codec swap: zstd decodes
    // several times faster than gzip at similar ratios, and every
    // piece of the member-index machinery (sidecars, auto-discovery,
    // point lookup, damage isolation) carries over unchanged.
    "w48_zstd_roundtrip" -> ((s, _) => {
      val out = scratch("w48_zstd")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      scan(s, "warcfile.warc.gz")
        .select(col("record_id"), col("record_type"), col("record_date"),
          col("headers"), col("content"))
        .coalesce(1)
        .write.format("warc")
        .option("compression", "zstd").option("member_index", "true")
        .mode("append").save(out)
      val f = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".warc.zst")).head
      require(new java.io.File(out, f.getName + ".idx").exists(),
        "zstd write left no member-index sidecar")
      val rescan = s.read.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .load(f.getPath)
      val nParts = rescan.rdd.getNumPartitions
      def totals(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      val zstTotals = totals(rescan)
      val gzEqual = zstTotals.collect()(0) ==
        totals(scan(s, "warcfile.warc.gz")).collect()(0)
      zstTotals
        .withColumn("member_parallel", lit(nParts > 1))
        .withColumn("gzip_equal", lit(gzEqual))
    }),

    // Dictionary lifecycle closed as ONE loop (extends w48, which reads
    // pre-built dictionary archives): train a shared dictionary from
    // sampled record bytes (the CLI `dict-train` surface —
    // WarcWriter.trainDictionary, zstd's ZDICT), hand the artifact to
    // the DISTRIBUTED sink (`zstd_dict` option: dictionary skippable
    // frame + per-record frames compressed against it, wget convention),
    // write an untrained control from the same frame, rescan both
    // member-parallel via their auto-discovered sidecars, and point-read
    // every response hit THROUGH the trained dictionary with the grouped
    // resolver (one dict load per group). Pins: totals equal between
    // trained and untrained paths AND the gzip fixture, the trained
    // archive actually leads with a dictionary frame, and all 16
    // point reads extract their full 518,445 content bytes. At 100 TB
    // the shape is train-once-broadcast-everywhere: one sample pass on
    // one shard, the ~26 KB artifact reused by every writer and loaded
    // once per reader partition / point-read group.
    "w50_dict_lifecycle" -> ((s, _) => {
      import s.implicits._
      import graft.functions.WarcCols
      val out = scratch("w50_dict")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      new java.io.File(out).mkdirs()
      val dict = graft.core.WarcWriter.trainDictionary(
        () => new java.io.FileInputStream(s"$FixtureDir/warcfile.warc.gz"))
      val dictFile = new java.io.File(out, "fixture.zstd-dict")
      dict.foreach(d => java.nio.file.Files.write(dictFile.toPath, d))
      def write(dir: String, trained: Boolean): java.io.File = {
        val w = scan(s, "warcfile.warc.gz")
          .select(col("record_id"), col("record_type"), col("record_date"),
            col("headers"), col("content"))
          .coalesce(1)
          .write.format("warc")
          .option("compression", "zstd").option("member_index", "true")
        // training can legally decline (too few/uniform samples): the
        // lifecycle then degrades dict-less, as trainDictionary's
        // contract says — the option is only passed when the artifact
        // exists (the oracle's dict_trained column pins that it did)
        (if (trained && dict.isDefined) w.option("zstd_dict", dictFile.getPath)
         else w)
          .mode("append").save(dir)
        new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc.zst")).head
      }
      val trainedF = write(s"$out/trained", trained = true)
      val plainF = write(s"$out/plain", trained = false)
      // the trained archive must LEAD with the dictionary frame
      val dictInArchive = locally {
        val in = new java.io.BufferedInputStream(
          new java.io.FileInputStream(trainedF), 64 * 1024)
        try graft.core.ZstdWarc.readDictionary(in).isDefined
        finally in.close()
      }
      def rescan(f: java.io.File) = s.read.format("warc")
        .option("max_partition_bytes", 16 * 1024).load(f.getPath)
      def totals(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      val trainedTotals = totals(rescan(trainedF))
      val tRow = trainedTotals.collect()(0)
      val plainEqual = tRow == totals(rescan(plainF)).collect()(0)
      val gzEqual2 = tRow == totals(scan(s, "warcfile.warc.gz")).collect()(0)
      // point reads through the dictionary: response hits from the
      // member-indexed rescan (compressed member addresses), resolved
      // by the grouped reader — ONE dictionary load for the group
      val hits = rescan(trainedF)
        .filter(col("record_type") === "response")
        .select(WarcCols.targetUri(col("headers")).as("url"),
          col("filename"), col("offset"))
        .as[(String, String, Long)]
      val points = resolvePointReads(hits)
        .agg(count(lit(1)).as("n_hits"),
          sum(when(col("content_length") >= 0, 1L).otherwise(0L))
            .as("n_point_extracted"),
          sum(when(col("target_uri") === col("url"), 1L).otherwise(0L))
            .as("n_uri_match"),
          sum(col("content_length")).as("point_bytes"))
      trainedTotals
        .withColumn("dict_trained", lit(dict.isDefined))
        .withColumn("dict_in_archive", lit(dictInArchive))
        .withColumn("plain_equal", lit(plainEqual))
        .withColumn("gzip_equal", lit(gzEqual2))
        .crossJoin(broadcast(points))
    }),

    // Collection-level CDXJ lookup join (the reference's `extract` is
    // single-file, fastwarc-py/fastwarc/cli.py:185-222 — the 100 TB
    // usage pattern is resolving a KEY TABLE against a multi-archive
    // CDXJ and issuing ranged point reads across thousands of files):
    // build CDXJ rows over FIVE archives in one scan (raw /
    // member-per-record gzip / frame-per-record LZ4 / frame-per-record
    // zstd / trained-dictionary zstd — every seekable container; brotli
    // is scannable (w05) but an RFC 7932 stream has no member
    // boundaries to seek, so it is not point-readable by design),
    // equi-join a (url, timestamp) key table against them, point-read
    // every hit at its compressed member offset, and pin per-archive
    // totals: 16 hits per archive, every hit extracted, every extracted
    // record's WARC-Target-URI re-matches its key, and per-archive
    // content mass equal to the fixture responses' 518,445 bytes
    // (independent python parse, FIXTURES.md). Scale shape: the CDXJ
    // build is a parallel scan, key resolution is a broadcast equi-join
    // (key tables are small next to collections), and each extract is a
    // seek+read whose cost is independent of collection size — the
    // cluster-wide random-access pattern the member-index loop
    // (w27/w36/w46-w48) exists to enable.
    "w49_cdxj_collection_lookup" -> ((s, _) => {
      import s.implicits._
      import graft.functions.WarcCols
      val paths = graft.sources.BenchCorpus.ensureCollection(
        s"${System.getProperty("java.io.tmpdir")}/graft_collection")
      // onboarding pass: ONE plain scan of the collection leaves `.idx`
      // member sidecars behind (emit_member_index, w46 doctrine — the
      // decoder crosses every member anyway, offsets cost zero extra
      // reads). The CDXJ is then built from the member-indexed rescan,
      // whose `offset` column reports COMPRESSED member addresses —
      // the coordinates a point read seeks. A plain scan's offsets are
      // decompressed-stream positions, useless to a seek; going through
      // the index loop is what makes a CDXJ collection-level.
      s.read.format("warc")
        .option("emit_member_index",
          s"${System.getProperty("java.io.tmpdir")}/graft_collection")
        .load(paths: _*).select(col("record_id")).count()
      // member-indexed rescan (auto-discovered sidecars; the small
      // max_partition_bytes plays the role file size plays at real
      // scale — auto-discovery probes only files worth splitting)
      val cdxj = s.read.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .load(paths: _*)
        .filter(col("record_type") === "response")
        .select(WarcCols.targetUri(col("headers")).as("url"),
          col("record_date").as("ts"), col("filename"), col("offset"))
      // the key table a user brings: (url, timestamp) pairs — here the
      // response keys of one archive (identical content in all five)
      val keys = s.read.format("warc").load(paths.head)
        .filter(col("record_type") === "response")
        .select(WarcCols.targetUri(col("headers")).as("url"),
          col("record_date").as("ts")).distinct()
      val hits = cdxj.join(broadcast(keys), Seq("url", "ts"))
      resolvePointReads(
          hits.select(col("url"), col("filename"), col("offset"))
            .as[(String, String, Long)])
        .select(col("filename"), col("content_length"),
          (col("target_uri") === col("url")).as("uri_match"))
        .groupBy(regexp_extract(col("filename"), "([^/]+)$", 1).as("file"))
        .agg(count(lit(1)).as("n_hits"),
          sum(when(col("content_length") >= 0, 1L).otherwise(0L))
            .as("n_extracted"),
          sum(when(col("uri_match"), 1L).otherwise(0L)).as("n_uri_match"),
          sum(col("content_length")).as("sum_content_length"))
        .orderBy(col("file"))
    }),

    // WAT-style derived archive (the Common Crawl *.warc.wat.gz
    // product, the third of the WARC/WAT/WET trio — w31 covers WET):
    // per response record, a WARC `metadata` record whose payload is a
    // JSON envelope summary — target URI, HTTP status/content-type,
    // page title, outbound links — WARC-Refers-To linking back to the
    // source. Built entirely in-plan (to_json over a struct; one
    // extraction pass for title+links), written through the same warc
    // sink, then re-scanned and the JSON parsed BACK with from_json to
    // prove the loop closes: every metadata record re-parses, refers to
    // a source, and the link mass matches the corpus. At 100 TB this is
    // scan → kernel → sink with zero shuffles.
    "w37_wat_export" -> ((s, _) => {
      import graft.functions.{WarcCols, Web}
      val out = scratch("w37_wat")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id").as("src_id"),
          WarcCols.targetUri(col("headers")).as("uri"),
          col("record_date"), col("http_status"), col("http_content_type"),
          Web.htmlTitle(col("http_body"), col("http_charset")).as("title"),
          Web.extractLinks(col("http_body"), col("http_charset"),
            WarcCols.targetUri(col("headers"))).as("links"))
        .select(
          concat(lit("<urn:wat:"), md5(col("src_id")), lit(">")).as("record_id"),
          lit("metadata").as("record_type"),
          col("record_date"),
          array(
            struct(lit("WARC-Target-URI").as("key"), col("uri").as("value")),
            struct(lit("WARC-Refers-To").as("key"), col("src_id").as("value")),
            struct(lit("Content-Type").as("key"),
              lit("application/json").as("value"))).as("headers"),
          encode(to_json(struct(col("uri"), col("http_status").as("status"),
            col("http_content_type").as("content_type"), col("title"),
            size(col("links")).as("n_links"), col("links"))), "UTF-8")
            .as("content"))
        .coalesce(1)
        .write.format("warc").option("checksum", "true")
        .mode("append").save(out)
      val watSchema = "uri string, status int, content_type string, " +
        "title string, n_links bigint, links array<string>"
      s.read.format("warc").load(out)
        .select(col("record_type"), col("block_digest_ok"), col("headers"),
          from_json(decode(col("content"), "UTF-8"),
            org.apache.spark.sql.types.StructType.fromDDL(watSchema)).as("j"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("record_type") === "metadata", 1L).otherwise(0L))
            .as("n_metadata"),
          sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_digest_ok"),
          count(WarcCols.header(col("headers"), "WARC-Refers-To")).as("n_refers"),
          sum(when(col("j.uri").isNotNull, 1L).otherwise(0L)).as("n_json_ok"),
          sum(col("j.n_links")).as("total_links"),
          count(col("j.title")).as("n_titled"))
    }),

    // Header predicates (#24: is_warc_10/11, has_*_digest, is_concurrent
    // — warc.pyx:1276-1344) over the native codegen'd header lookups;
    // ground truth from the independent python parse of the fixture
    // (50 x WARC/1.0, 16 digested responses, 32 concurrent-to links).
    "w24_header_predicates" -> ((s, _) => {
      import graft.functions.WarcCols
      scan(s, "warcfile.warc.gz").agg(
        sum(when(WarcCols.isWarc10(col("warc_version")), 1L).otherwise(0L)).as("n_warc10"),
        sum(when(WarcCols.isWarc11(col("warc_version")), 1L).otherwise(0L)).as("n_warc11"),
        sum(when(WarcCols.hasBlockDigest(col("headers")), 1L).otherwise(0L)).as("n_block_digest"),
        sum(when(WarcCols.hasPayloadDigest(col("headers")), 1L).otherwise(0L)).as("n_payload_digest"),
        sum(when(WarcCols.isConcurrent(col("headers")), 1L).otherwise(0L)).as("n_concurrent"),
        // parsed Last-Modified derived column (warc.pyx:677-691): 5 of
        // the 16 fixture responses carry one, all RFC-1123
        count(col("http_last_modified")).as("n_last_modified"),
        min(col("http_last_modified")).as("min_last_modified"),
        max(col("http_last_modified")).as("max_last_modified"))
    }),

    // Resilience semantics (#11 warc_retry resync + #53 exc_loop error
    // column): a damaged archive — garbage lines between records and a
    // final record truncated mid-payload — yields every intact record,
    // skips the garbage silently (reference resync, warc.pyx:1184-1207),
    // and surfaces the truncation as an error ROW, not a task failure.
    // All 50 envelopes (content lengths from the intact headers) total
    // the independently-derived 527,846 bytes.
    "w25_resilience" -> ((s, _) => {
      val path = graft.sources.BenchCorpus.ensureCorrupted(
        s"${System.getProperty("java.io.tmpdir")}/graft_corrupted")
      s.read.format("warc").load(path)
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("error").isNull, 1L).otherwise(0L)).as("n_ok"),
             sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_error"),
             sum(col("content_length")).as("sum_content_length"))
    }),

    // Host-level crawl statistics (the per-host bucketing every crawl
    // pipeline starts from — politeness grouping, per-host dedup,
    // frequency caps): WARC-Target-URI -> host via parse_url, grouped.
    // Ground truth from the independent python parse of the fixture
    // URIs: 16 responses over 15 hosts, densest host 2 pages.
    "w26_host_stats" -> ((s, _) => {
      import graft.functions.WarcCols
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(WarcCols.targetUri(col("headers")).as("uri"))
        .select(lower(expr("parse_url(uri, 'HOST')")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_responses"),
             count(lit(1)).as("n_hosts"),
             max(col("n")).as("max_per_host"))
    }),

    // Host-level link graph over the real fixture pages: DOM-extract
    // every a[href], absolutize against each record's own WARC-Target-
    // URI (RFC 3986), aggregate (src_host -> dst_host) edges. The crawl
    // -frontier / PageRank-prep pass; at corpus scale the edge list is
    // the shuffle (two small host strings per link) and the page bytes
    // never leave the scan stage. Self-pinned totals (DuckDB cannot
    // parse HTML).
    "w30_link_graph" -> ((s, _) => {
      import graft.functions.{WarcCols, Web}
      val edges = scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(WarcCols.targetUri(col("headers")).as("uri"),
          col("http_body"), col("http_charset"))
        .select(lower(expr("parse_url(uri, 'HOST')")).as("src_host"),
          explode(Web.extractLinks(col("http_body"), col("http_charset"), col("uri")))
            .as("link"))
        .select(col("src_host"), lower(expr("parse_url(link, 'HOST')")).as("dst_host"))
        .filter(col("dst_host").isNotNull)
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
      edges.agg(
        count(lit(1)).as("n_edges"),
        sum(col("n_links")).as("n_links"),
        count_distinct(col("src_host")).as("n_src_hosts"),
        count_distinct(col("dst_host")).as("n_dst_hosts"),
        sum(when(col("src_host") =!= col("dst_host"), col("n_links")).otherwise(0L))
          .as("n_external_links"))
    }),

    // WET-style derived archive (the Common Crawl *.warc.wet.gz
    // product): extract every response's plain text ONCE, write it back
    // as WARC `conversion` records — WARC-Refers-To linking each to its
    // source record, Content-Type text/plain, recomputed digests — then
    // re-scan the derived archive and verify the loop closed. This is
    // the classic crawl->text pipeline shape at 100 TB: the derived
    // corpus is an archive the SAME scan operators (and every dedup /
    // quality / lang query in this engine) consume directly, so the
    // extraction cost is paid once, not per downstream consumer. The
    // headers column is built in-plan (array<struct<key,value>> —
    // order-preserving), no driver-side record assembly.
    // Structured Streaming oracle gate: windowedTypeCounts
    // (streaming/EventTime.scala) run as a REAL streaming query — the
    // fixture's records staged to parquet, consumed by a file stream,
    // aggregated with watermark + tumbling window into a memory sink —
    // and pinned equal to the batch rendition of the same transform
    // (Spark's unified API is the claim; this makes it driver-checked).
    // Oracle is a disclosed self-pin like w19 (DuckDB cannot run a
    // streaming query; the windows are re-derivable from fixture bytes).
    "w32_streaming_windows" -> ((s, _) => {
      import graft.streaming.EventTime
      val fixture = FixtureGz
      val batch = s.read.format("warc").load(fixture)
        .select(col("record_date"), col("record_type"), col("content_length"))
      val stage = Scratch.fastFresh("w32_stage").getPath
      // the stateful streaming agg instantiates one STATE STORE per
      // shuffle partition per micro-batch: at the session's 32
      // partitions that is 32 store setups/commits for a 50-record
      // fixture, pure fixed cost. Scope the gate's queries to
      // data-sized partitions (RoundPartitions; at real scale rows/64k
      // keeps the session setting).
      graft.streaming.TransientCheckpoints.scoped(s) {
      graft.operators.RoundPartitions.scoped(s, 50) {
        batch.write.mode("overwrite").parquet(stage)
        val stream = s.readStream.schema(batch.schema).parquet(stage)
        val qname = s"graft_w32_mem_$SessionToken"
        val q = EventTime.windowedTypeCounts(stream)
          .writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", Scratch.fastFresh("w32_ckpt").getPath)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
        try q.processAllAvailable() finally q.stop()
        def shape(df: DataFrame): DataFrame = df.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("record_type"), col("n_records"), col("total_bytes"))
        val streamed = shape(s.table(qname))
        val batchRes = shape(EventTime.windowedTypeCounts(batch))
        // lazy equality stamp: the bag compare evaluates inside the
        // caller's one action instead of an eager collect job (r15
        // streaming-floor cut)
        val deltaF = StreamingDedup.bagDeltaFrame(streamed, batchRes)
          .select((col("_delta") === 0L).as("batch_equal"))
        streamed.crossJoin(broadcast(deltaF))
          .orderBy(col("window_start"), col("record_type"))
      }
    }
      }),

    // Per-host SESSION windows in the micro-batch path — q18's gap-merge
    // semantics as a STREAMING aggregation (native session_window over
    // the WARC stream's event time), completing the streaming family:
    // w32 tumbling windows, w35/w41 stateful dedup gates, w38 the sink
    // side, sessions here. The 5-second gap splits each host's fixture
    // captures into the same islands a batch session_window produces —
    // batch equivalence is pinned in-row (Spark's unified-API claim,
    // driver-checked). State = open sessions inside the watermark
    // horizon, the bounded-state property at 100 TB/day.
    "w44_streaming_sessions" -> ((s, _) => {
      import graft.functions.WarcCols
      val fixture = FixtureGz
      val batch = s.read.format("warc").option("record_types", "response")
        .load(fixture)
        .select(col("record_date").as("ts"),
          regexp_extract(WarcCols.targetUri(col("headers")),
            "^[a-zA-Z]+://([^/]+)", 1).as("host"),
          col("content_length"))
      def sessions(df: DataFrame): DataFrame = df
        .groupBy(col("host"), session_window(col("ts"), "5 seconds"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"))
      def shape(df: DataFrame): DataFrame = df.select(col("host"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        (unix_micros(col("session_window.end"))
          - unix_micros(col("session_window.start"))).as("span_us"),
        col("n_records"), col("total_bytes"))
      // staging path + memory-sink name carry a per-run token so two
      // concurrent sessions can't race on the same parquet dir or the
      // global temp view
      val token = java.util.UUID.randomUUID().toString.replace("-", "")
      val stage = s"${Scratch.FastRoot}/graft_w44_stage_$token"
      graft.streaming.TransientCheckpoints.scoped(s) {
      graft.operators.RoundPartitions.scoped(s, 50) {
        try {
          batch.write.mode("overwrite").parquet(stage)
          val stream = s.readStream.schema(batch.schema).parquet(stage)
            .withWatermark("ts", "1 day")
          val qname = s"graft_w44_mem_$token"
          val q = sessions(stream)
            .writeStream.format("memory").queryName(qname)
            .option("checkpointLocation", Scratch.fastFresh("w44_ckpt").getPath)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
          try q.processAllAvailable() finally q.stop()
          val streamed = shape(s.table(qname))
          val batchRes = shape(sessions(batch))
          // lazy equality stamp — the compare rides the localCheckpoint
          // job below instead of its own collect (r15 floor cut)
          val deltaF = StreamingDedup.bagDeltaFrame(streamed, batchRes)
            .select((col("_delta") === 0L).as("batch_equal"))
          val out = streamed.crossJoin(broadcast(deltaF))
            .orderBy(col("host"), col("session_start"))
            .localCheckpoint(true) // materialize before the staging dir goes away
          s.catalog.dropTempView(qname)
          out
        } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
      }
    }
      }),

    // The streaming crawl FRONTIER gate — w35's shape, but keyed by
    // d21's canonical URL instead of the content fingerprint, i.e. the
    // gate that decides whether to FETCH at all. Crawl-b is a DISGUISED
    // re-crawl of every page (scheme/host case flipped, `WWW.` grafted
    // on, a `utm_source` decoration appended — the variants real feeds
    // produce), written through the engine's own writer: a naive
    // verbatim-URI gate sees 32 distinct URLs and fetches everything
    // twice; the canonical gate recognizes 16 pages and suppresses the
    // entire second crawl. Both counts are pinned in-row, so the result
    // itself proves the canonicalization is the load-bearing step.
    // State is canonical urls inside the watermark horizon — the
    // bounded-state property that holds at 100 TB/day.
    "w41_streaming_frontier" -> ((s, _) => {
      import graft.functions.{WarcCols, Web}
      val tmp = System.getProperty("java.io.tmpdir")
      val landing = new java.io.File(scratch("w41_landing"))
      org.apache.commons.io.FileUtils.deleteDirectory(landing)
      landing.mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(FixtureGz),
        new java.io.File(landing, "crawl-a.warc.gz").toPath)
      // crawl-b: same 16 pages under disguised URLs
      val recrawlDir = scratch("w41_recrawl")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(recrawlDir))
      val resp = scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id").as("src_id"), col("record_date"),
          WarcCols.targetUri(col("headers")).as("uri"), col("content"))
      val decorated = when(col("uri").contains("?"),
          concat(col("uri"), lit("&utm_source=refeed")))
        .otherwise(concat(col("uri"), lit("?utm_source=refeed")))
      val disguised = regexp_replace(decorated, "^http://", "HTTP://WWW.")
      resp.select(
          concat(lit("<urn:recrawl:"), md5(col("src_id")), lit(">")).as("record_id"),
          lit("response").as("record_type"),
          col("record_date"),
          array(struct(lit("WARC-Target-URI").as("key"),
            disguised.as("value"))).as("headers"),
          col("content"))
        .coalesce(1)
        .write.format("warc").option("checksum", "true")
        .mode("append").save(recrawlDir)
      val partFile = new java.io.File(recrawlDir).listFiles()
        .filter(_.getName.endsWith(".warc.gz")).head
      val gate = s.readStream.format("warc")
        .option("record_types", "response").load(landing.getPath)
        .select(col("record_date").as("ts"),
          Web.canonicalUrl(WarcCols.targetUri(col("headers"))).as("curl"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("curl")
      graft.streaming.TransientCheckpoints.scoped(s) {
      graft.operators.RoundPartitions.scoped(s, 50) {
        val qname = s"graft_w41_mem_$SessionToken"
        val q = gate.writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", Scratch.fastFresh("w41_ckpt").getPath)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try {
          q.processAllAvailable()
          java.nio.file.Files.copy(partFile.toPath, // the disguised re-crawl lands
            new java.io.File(landing, "crawl-b.warc.gz").toPath)
          q.processAllAvailable()
        } finally q.stop()
        val streamed = s.table(qname).select(col("curl"))
        val batchUris = s.read.format("warc").option("record_types", "response")
          .load(landing.getPath)
          .select(WarcCols.targetUri(col("headers")).as("uri"))
        val batchCanon = batchUris.select(Web.canonicalUrl(col("uri")).as("curl"))
          .distinct()
        // ONE action, zero joins/broadcasts (r15 floor cut — an eager
        // bagDelta collect, an input count, and a naive-distinct count
        // were three ~0.2-0.4 s fixed-cost jobs): everything rides a
        // single union → groupBy(key) → final-aggregate chain. The
        // naive-first count is the number of distinct 'in' key groups;
        // the stream-vs-batch bag delta is Σ|ns − nb| per key.
        val rows = batchUris.select(lit("in").as("kind"),
            col("uri").as("key"), lit(0L).as("ns"), lit(0L).as("nb"))
          .unionAll(streamed.select(lit("cmp"), col("curl"), lit(1L), lit(0L)))
          .unionAll(batchCanon.select(lit("cmp"), col("curl"), lit(0L), lit(1L)))
        rows.groupBy(col("kind"), col("key"))
          .agg(sum(col("ns")).as("s"), sum(col("nb")).as("b"),
            count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("kind") === "in", col("n")).otherwise(0L)),
              lit(0L)).as("n_input"),
            coalesce(sum(when(col("kind") === "in", 1L).otherwise(0L)),
              lit(0L)).as("n_naive_first"),
            coalesce(sum(when(col("kind") === "cmp", col("s")).otherwise(0L)),
              lit(0L)).as("n_first"),
            coalesce(sum(when(col("kind") === "cmp", abs(col("s") - col("b")))
              .otherwise(0L)), lit(0L)).as("mism"))
          .select(col("n_input"), col("n_naive_first"),
            col("n_first"), (col("n_input") - col("n_first")).as("n_dup_suppressed"),
            (col("mism") === 0L).as("batch_equal"))
      }
    }
      }),

    // The LLM-ingest front door as a STREAMING query (continuous crawl
    // -> dedup -> sink): the WARC micro-batch source feeds a
    // watermarked `dropDuplicatesWithinWatermark` on the content
    // fingerprint — d01's first-seen semantics in the micro-batch path,
    // with state bounded to fingerprints inside the watermark horizon
    // (the property that holds at 100 TB/day where an unbounded
    // dropDuplicates never GCs). Driven like w32: land crawl-a, then
    // TWO re-crawls of the same pages land in LATER micro-batches
    // (late event times, new batches) and must all be absorbed by
    // state carried across batches. Batch equivalence (distinct fps of
    // everything landed) is pinned in-row.
    "w35_streaming_dedup" -> ((s, _) => {
      val landing = new java.io.File(
        scratch("w35_landing"))
      org.apache.commons.io.FileUtils.deleteDirectory(landing)
      landing.mkdirs()
      val fixture = java.nio.file.Paths.get(FixtureGz)
      def land(name: String): Unit =
        java.nio.file.Files.copy(fixture, new java.io.File(landing, name).toPath)
      land("crawl-a.warc.gz")
      val deduped = s.readStream.format("warc")
        .option("record_types", "response").load(landing.getPath)
        .select(col("record_date").as("ts"), md5(col("http_body")).as("fp"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("fp")
      graft.streaming.TransientCheckpoints.scoped(s) {
      graft.operators.RoundPartitions.scoped(s, 50) {
        val qname = s"graft_w35_mem_$SessionToken"
        val q = deduped.writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", Scratch.fastFresh("w35_ckpt").getPath)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try {
          q.processAllAvailable()
          land("crawl-b.warc.gz") // re-crawl: 16 duplicate pages, later batch
          q.processAllAvailable()
          land("crawl-c.warc.gz") // and once more
          q.processAllAvailable()
        } finally q.stop()
        val streamed = s.table(qname).select(col("fp"))
        val batchAll = s.read.format("warc").option("record_types", "response")
          .load(landing.getPath)
          .select(md5(col("http_body")).as("fp"))
        val batchDistinct = batchAll.distinct()
        // ONE action, zero joins/broadcasts (r15 floor cut; same union
        // shape as w41): input count, first-seen count, and the
        // stream-vs-batch bag delta in a single aggregate chain
        val rows = batchAll.select(lit("in").as("kind"),
            col("fp").as("key"), lit(0L).as("ns"), lit(0L).as("nb"))
          .unionAll(streamed.select(lit("cmp"), col("fp"), lit(1L), lit(0L)))
          .unionAll(batchDistinct.select(lit("cmp"), col("fp"), lit(0L), lit(1L)))
        rows.groupBy(col("kind"), col("key"))
          .agg(sum(col("ns")).as("s"), sum(col("nb")).as("b"),
            count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("kind") === "in", col("n")).otherwise(0L)),
              lit(0L)).as("n_input"),
            coalesce(sum(when(col("kind") === "cmp", col("s")).otherwise(0L)),
              lit(0L)).as("n_first"),
            coalesce(sum(when(col("kind") === "cmp", abs(col("s") - col("b")))
              .otherwise(0L)), lit(0L)).as("mism"))
          .select(col("n_input"), col("n_first"),
            (col("n_input") - col("n_first")).as("n_dup_suppressed"),
            (col("mism") === 0L).as("batch_equal"))
      }
    }
      }),

    // Streaming derived-archive export — the continuous crawl→text
    // pipeline closing the sink side of the streaming story (w32/w35
    // cover the read side): the micro-batch WARC source feeds the SAME
    // WET projection as the batch export (wetRows, shared with w31) and
    // each micro-batch lands as WARC conversion records through the
    // batch warc sink via foreachBatch — the standard Structured
    // Streaming pattern for a batch-capable sink, giving per-batch
    // atomic appends. Two crawl drops = two micro-batches; the derived
    // archive re-scans to 2x the w31 totals and its payload-digest
    // multiset must equal what the batch exporter would have produced
    // over the same landing dir (streaming == batch, pinned in-result).
    "w38_streaming_wet_export" -> ((s, _) => {
      val tmp = System.getProperty("java.io.tmpdir")
      val landing = new java.io.File(scratch("w38_landing"))
      val out = scratch("w38_wet")
      org.apache.commons.io.FileUtils.deleteDirectory(landing)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      landing.mkdirs()
      val fixture = java.nio.file.Paths.get(FixtureGz)
      def land(name: String): Unit =
        java.nio.file.Files.copy(fixture, new java.io.File(landing, name).toPath)
      land("crawl-a.warc.gz")
      val derived = wetRows(s.readStream.format("warc")
        .option("record_types", "response").load(landing.getPath))
      // idempotent per-batch-id landing dirs (ExactlyOnce doctrine): a
      // replayed micro-batch overwrites its own output, so the derived
      // archive is exactly-once even if a crash lands between sink
      // write and checkpoint commit (restart idempotence is pinned in
      // StreamingSpec)
      // delete-first fixed path, tmpfs-backed: rerun-safe without
      // leaking a new state/offsets tree per sweep, and the WAL fsyncs
      // are free
      val ckptDir = Scratch.fastFresh("w38_ckpt")
      graft.streaming.TransientCheckpoints.scoped(s) {
        val q = derived.writeStream
          .option("checkpointLocation", ckptDir.getPath)
          .foreachBatch(graft.streaming.ExactlyOnce.warcBatchWriter(out,
            Map("checksum" -> "true", "drop_null_content" -> "true"))).start()
        try {
          q.processAllAvailable()
          land("crawl-b.warc.gz") // second crawl drop -> second micro-batch
          q.processAllAvailable()
        } finally q.stop()
      }
      val wet = s.read.format("warc").load(s"$out/batch-*")
      // lazy equality stamp (r15): digest-multiset compare rides the
      // caller's one action as a union → groupBy → aggregate chain.
      // The batch side's null-content rows (the ones drop_null_content
      // removed from the written archive) are excluded INSIDE the
      // aggregate (`when(d.isNotNull, …)`) — a row filter here would be
      // pushed below the projection and evaluate the extraction kernel
      // twice (once in the Filter, once in the Project; WarcPlanSpec
      // pins kernel-once).
      val deltaF = wet
        .select(sha1(col("content")).as("d"), lit(1L).as("ns"), lit(0L).as("nb"))
        .unionAll(wetRows(
            s.read.format("warc").option("record_types", "response")
              .load(landing.getPath))
          .select(sha1(col("content")).as("d"), lit(0L).as("ns"), lit(1L).as("nb")))
        .groupBy(col("d"))
        .agg(sum(col("ns")).as("s"), sum(col("nb")).as("b"))
        // null digests are asymmetric: the BATCH side legitimately
        // carries null-content rows (the ones drop_null_content removed
        // from the written archive) and is excluded, but a null digest
        // from the WRITTEN archive means a null-content record survived
        // the sink — count each streamed-side null as a mismatch
        // instead of masking it (r16 advice)
        .agg(coalesce(sum(when(col("d").isNotNull, abs(col("s") - col("b")))
          .otherwise(col("s"))), lit(0L)).as("_delta"))
        .select((col("_delta") === 0L).as("batch_equal"))
      wet.agg(count(lit(1)).as("n_records"),
        sum(when(col("record_type") === "conversion", 1L).otherwise(0L))
          .as("n_conversion"),
        sum(col("content_length")).as("total_text_bytes"),
        sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_digest_ok"))
        .crossJoin(broadcast(deltaF))
    }),

    // Revisit-record resolution — the DEDUPLICATED-CRAWL topology every
    // long-running web archive uses (WARC/1.1 §6.7.2 identical-payload-
    // digest profile; the reference models revisit as record-type bit 64,
    // fastwarc warc.pyx:86-87, but leaves resolution to the reader).
    // A recrawl whose payload digest is unchanged stores a tiny revisit
    // record pointing at the first capture (WARC-Refers-To + the
    // original's WARC-Payload-Digest) instead of the body. Resolution =
    // equi-join of revisits to originals on the referred record id —
    // replay and analytics see every capture at its logical size while
    // storage holds one body. Build: write a two-crawl archive (crawl 1
    // = the fixture's 16 responses; crawl 2 = 16 revisits) with the
    // engine's own writer, re-read, resolve. At scale the original side
    // is the record-id→(digest, length) index — orders of magnitude
    // smaller than the corpus, so it broadcasts; revisits never shuffle.
    "w39_revisit_resolve" -> ((s, _) => {
      import graft.functions.WarcCols
      val out = scratch("w39_revisit")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val resp = scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id"), col("record_date"), col("headers"), col("content"),
          WarcCols.targetUri(col("headers")).as("uri"),
          WarcCols.header(col("headers"), "WARC-Payload-Digest").as("pdigest"))
      val originals = resp.select(col("record_id"), lit("response").as("record_type"),
        col("record_date"), col("headers"), col("content"))
      val revisits = resp
        .select(col("record_id").as("src_id"), col("record_date"),
          col("uri"), col("pdigest"))
        .select(
          concat(lit("<urn:revisit:"), md5(col("src_id")), lit(">")).as("record_id"),
          lit("revisit").as("record_type"),
          col("record_date"),
          array(
            struct(lit("WARC-Target-URI").as("key"), col("uri").as("value")),
            struct(lit("WARC-Refers-To").as("key"), col("src_id").as("value")),
            struct(lit("WARC-Payload-Digest").as("key"), col("pdigest").as("value")),
            struct(lit("WARC-Profile").as("key"),
              lit("http://netpreserve.org/warc/1.1/revisit/identical-payload-digest")
                .as("value"))).as("headers"),
          lit(Array.emptyByteArray).as("content"))
      originals.unionByName(revisits).coalesce(1)
        .write.format("warc").option("checksum", "true").mode("append").save(out)
      val recs = s.read.format("warc").load(out)
      val orig = recs.filter(col("record_type") === "response")
        .select(col("record_id").as("ref_id"),
          col("content_length").as("orig_bytes"),
          WarcCols.header(col("headers"), "WARC-Payload-Digest").as("orig_digest"))
      val rev = recs.filter(col("record_type") === "revisit")
        .select(WarcCols.header(col("headers"), "WARC-Refers-To").as("ref_id"),
          col("content_length").as("rev_bytes"),
          WarcCols.header(col("headers"), "WARC-Payload-Digest").as("rev_digest"))
      val resolved = rev.join(broadcast(orig), Seq("ref_id"))
      val respStats = recs.filter(col("record_type") === "response")
        .agg(count(lit(1)).as("n_responses"),
          sum(col("content_length")).as("resp_bytes"))
      resolved.agg(
          count(lit(1)).as("n_resolved"),
          sum(when(col("rev_digest") === col("orig_digest"), 1L).otherwise(0L))
            .as("n_digest_match"),
          sum(col("orig_bytes")).as("resolved_logical_bytes"),
          sum(col("rev_bytes")).as("revisit_stored_bytes"))
        .crossJoin(broadcast(respStats)) // two 1-row aggregates
        .select(col("n_responses"), col("n_resolved"), col("n_digest_match"),
          (col("resp_bytes") + col("resolved_logical_bytes")).as("logical_bytes"),
          (col("resp_bytes") + col("revisit_stored_bytes")).as("stored_bytes"))
    }),

    // Continuation-record segmentation + reassembly (WARC/1.1 §5.18-20:
    // WARC-Segment-Number / -Origin-ID / -Total-Length; the reference
    // models `continuation` as record-type bit 128, warc.pyx:112-113,
    // and leaves reassembly to the reader). A record too large for one
    // archive block is written as a response segment 1 plus N
    // continuation records pointing at it; reassembly groups
    // continuations by origin id, orders by segment number and
    // concatenates payloads. Build: re-write the fixture's 16 responses
    // as 4 KiB segments with the engine's own writer, re-read,
    // reassemble, and pin byte-exactness against the source payloads
    // (md5 join on a src-digest key embedded in the origin id). At
    // scale the shuffle moves segment-sized rows keyed by origin id —
    // payload concat is bounded by one record's size, and the
    // first-segment side joins by the same key, so nothing ever holds
    // more than one logical record in memory.
    "w40_segment_reassembly" -> ((s, _) => {
      import graft.functions.WarcCols
      val out = scratch("w40_segments")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val chunk = 4096
      val resp = scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id").as("src_id"), col("record_date"),
          WarcCols.targetUri(col("headers")).as("uri"), col("content"))
      val withN = resp.withColumn("total_len", length(col("content")).cast("long"))
        .withColumn("nseg",
          ceil(col("total_len").cast("double") / chunk).cast("int"))
      val origin = concat(lit("<urn:segment:"), md5(col("src_id")), lit(":1>"))
      val segRows = withN
        .select(col("src_id"), col("record_date"), col("uri"), col("content"),
          col("total_len"), col("nseg"),
          explode(sequence(lit(0), col("nseg") - 1)).as("segidx"))
        .select(
          when(col("segidx") === 0, origin)
            .otherwise(concat(lit("<urn:segment:"), md5(col("src_id")),
              lit(":"), (col("segidx") + 1).cast("string"), lit(">")))
            .as("record_id"),
          when(col("segidx") === 0, lit("response"))
            .otherwise(lit("continuation")).as("record_type"),
          col("record_date"),
          filter(array(
            struct(lit("WARC-Target-URI").as("key"), col("uri").as("value")),
            struct(lit("WARC-Segment-Number").as("key"),
              (col("segidx") + 1).cast("string").as("value")),
            when(col("segidx") > 0,
              struct(lit("WARC-Segment-Origin-ID").as("key"),
                origin.as("value"))),
            when(col("segidx") === col("nseg") - 1 && col("nseg") > 1,
              struct(lit("WARC-Segment-Total-Length").as("key"),
                col("total_len").cast("string").as("value")))),
            x => x.isNotNull).as("headers"),
          expr(s"substring(content, segidx * $chunk + 1, $chunk)").as("content"))
      segRows.coalesce(1)
        .write.format("warc").option("checksum", "true").mode("append").save(out)
      val recs = s.read.format("warc").load(out)
      val firsts = recs.filter(col("record_type") === "response")
        .select(col("record_id").as("origin_id"), col("content").as("c0"))
      val tails = recs.filter(col("record_type") === "continuation")
        .select(
          WarcCols.header(col("headers"), "WARC-Segment-Origin-ID").as("origin_id"),
          WarcCols.header(col("headers"), "WARC-Segment-Number")
            .cast("int").as("segno"),
          col("content").as("chunk_bytes"))
        .groupBy(col("origin_id"))
        .agg(array_sort(collect_list(
          struct(col("segno"), col("chunk_bytes")))).as("parts"))
      val reassembled = firsts.join(tails, Seq("origin_id"), "left")
        .select(col("origin_id"),
          concat(col("c0"),
            coalesce(
              aggregate(col("parts"), lit(Array.emptyByteArray),
                (acc, x) => concat(acc, x.getField("chunk_bytes"))),
              lit(Array.emptyByteArray))).as("payload"))
      val src = resp.select(md5(col("src_id")).as("k"),
        md5(col("content")).as("h"), length(col("content")).cast("long").as("len"))
      val nRecords = recs.agg(count(lit(1)).as("n_records"))
      reassembled
        .withColumn("k",
          regexp_extract(col("origin_id"), "urn:segment:([0-9a-f]+):", 1))
        .join(broadcast(src), Seq("k"))
        .agg(count(lit(1)).as("n_reassembled"),
          sum(when(md5(col("payload")) === col("h"), 1L).otherwise(0L))
            .as("n_bytes_match"),
          sum(col("len")).as("total_bytes"))
        .crossJoin(broadcast(nRecords)) // two 1-row aggregates
        .select(col("n_records"), col("n_reassembled"),
          col("n_bytes_match"), col("total_bytes"))
    }),

    // Dedup-on-WRITE — the storage-side counterpart of w39's read-side
    // revisit resolution: given a crawl full of repeated payloads, the
    // writer keeps ONE body per payload digest (the first capture by
    // (filename, offset)) and emits a tiny WARC/1.1 §6.7.2 revisit
    // record for every later capture — exactly how long-running archives
    // (wayback, Common Crawl recrawls) keep storage sub-linear in crawl
    // count. Topology: one digest-keyed aggregate whose result is
    // UNIQUE-PAYLOAD-sized (pages, not captures — it broadcasts), one
    // broadcast join back, conditional record construction in the same
    // projection, ONE pass and ONE write; the corpus never shuffles.
    // Input is the 25,600-capture bench corpus (1,600 copies of 16
    // pages); the re-read + resolve proves the archive round-trips at
    // full logical size while storing 16 bodies.
    "w42_dedup_write" -> ((s, _) => {
      import graft.functions.WarcCols
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      val out = scratch("w42_dedup")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val resp = s.read.format("warc").load(dir)
        .filter(col("record_type") === "response")
        .select(col("filename"), col("offset"), col("record_id"),
          col("record_date"), col("headers"), col("content"),
          WarcCols.header(col("headers"), "WARC-Payload-Digest").as("pdigest"),
          WarcCols.targetUri(col("headers")).as("uri"))
      val first = resp.groupBy(col("pdigest"))
        .agg(min(struct(col("filename"), col("offset"), col("record_id"))).as("f"))
        .select(col("pdigest"), col("f.filename").as("f_file"),
          col("f.offset").as("f_off"), col("f.record_id").as("orig_id"))
      val isOrig = col("filename") === col("f_file") && col("offset") === col("f_off")
      resp.join(broadcast(first), Seq("pdigest"))
        .select(
          when(isOrig, col("record_id"))
            .otherwise(concat(lit("<urn:revisit:"),
              md5(concat_ws(":", col("filename"), col("offset"))), lit(">")))
            .as("record_id"),
          when(isOrig, lit("response")).otherwise(lit("revisit")).as("record_type"),
          col("record_date"),
          when(isOrig, col("headers")).otherwise(array(
            struct(lit("WARC-Target-URI").as("key"), col("uri").as("value")),
            struct(lit("WARC-Refers-To").as("key"), col("orig_id").as("value")),
            struct(lit("WARC-Payload-Digest").as("key"), col("pdigest").as("value")),
            struct(lit("WARC-Profile").as("key"),
              lit("http://netpreserve.org/warc/1.1/revisit/identical-payload-digest")
                .as("value")))).as("headers"),
          when(isOrig, col("content"))
            .otherwise(lit(Array.emptyByteArray)).as("content"))
        .write.format("warc").option("checksum", "true").mode("append").save(out)
      val recs = s.read.format("warc").load(out)
      val orig = recs.filter(col("record_type") === "response")
        .select(col("record_id").as("ref_id"), col("content_length").as("orig_bytes"))
      val rev = recs.filter(col("record_type") === "revisit")
        .select(WarcCols.header(col("headers"), "WARC-Refers-To").as("ref_id"),
          col("content_length").as("rev_bytes"))
      val origStats = orig.agg(count(lit(1)).as("n_stored_bodies"),
        sum(col("orig_bytes")).as("stored_body_bytes"))
      rev.join(broadcast(orig), Seq("ref_id"))
        .agg(count(lit(1)).as("n_revisits"),
          sum(col("orig_bytes")).as("revisit_logical_bytes"),
          sum(col("rev_bytes")).as("revisit_stored_bytes"))
        .crossJoin(broadcast(origStats)) // two 1-row aggregates
        .select(
          (col("n_stored_bodies") + col("n_revisits")).as("n_captures"),
          col("n_stored_bodies"), col("n_revisits"),
          (col("stored_body_bytes") + col("revisit_logical_bytes"))
            .as("logical_bytes"),
          (col("stored_body_bytes") + col("revisit_stored_bytes"))
            .as("stored_bytes"))
    }),

    // Crawl-snapshot DELTA — the recrawl planner's core question: given
    // two snapshots of the same URL space, which pages are new, gone,
    // changed, unchanged, and how many bytes must actually be refetched?
    // Snapshot A = the fixture's 16 pages written as an archive;
    // snapshot B = a deterministic "recrawl" derived by the first hex
    // char of md5(uri) (0-3 gone, 4-7 body changed, rest untouched)
    // plus 3 brand-new pages — both written with checksum=true so the
    // WRITER recomputes each block digest and the comparison tests real
    // re-crawled bytes, not carried-over header text. The delta itself
    // is one full-outer join keyed by URL: at 100 TB both snapshot
    // listings are (url, digest, bytes) CDX-shaped tables co-partitioned
    // by URL, so the join is the natural URL-keyed shuffle and nothing
    // corpus-sized is ever broadcast. Classification and the refetch
    // budget are one projection + one partial agg over the joined rows.
    "w43_crawl_delta" -> ((s, _) => {
      import graft.functions.WarcCols
      val tmp = System.getProperty("java.io.tmpdir")
      // fixed tmp paths = the registry-wide fixture doctrine (w31/w39/
      // w40/w42): one driver per host, delete-then-write per invocation.
      // Concurrent drivers on one machine would race these directories —
      // as they would every other write-fixture query.
      val outA = scratch("w43_snap_a")
      val outB = scratch("w43_snap_b")
      Seq(outA, outB).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      val pages = scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(col("record_id"), lit("response").as("record_type"),
          col("record_date"), col("headers"), col("content"),
          WarcCols.targetUri(col("headers")).as("uri"))
      val base = pages.drop("uri")
      base.write.format("warc").option("checksum", "true")
        .mode("append").save(outA)
      val bucket = substring(md5(col("uri")), 1, 1)
      val survivors = pages.filter(!bucket.isin("0", "1", "2", "3"))
        .select(col("record_id"), col("record_type"), col("record_date"),
          col("headers"),
          when(bucket.isin("4", "5", "6", "7"),
            concat(col("content"), lit(" <!-- v2 -->".getBytes("ascii"))))
            .otherwise(col("content")).as("content"))
      val newcomers = s.range(0, 3, 1, 1)
        .select(concat(lit("<urn:new:"), col("id"), lit(">")).as("record_id"),
          lit("resource").as("record_type"),
          to_timestamp(lit("2026-02-01 00:00:00")).as("record_date"),
          array(
            struct(lit("WARC-Target-URI").as("key"),
              concat(lit("http://example.com/delta/new-"), col("id")).as("value")),
            struct(lit("Content-Type").as("key"),
              lit("text/plain").as("value"))).as("headers"),
          concat(lit("new page "), col("id")).cast("binary").as("content"))
      survivors.unionByName(newcomers)
        .write.format("warc").option("checksum", "true")
        .mode("append").save(outB)
      def listing(dir: String) = s.read.format("warc").load(dir)
        .select(WarcCols.targetUri(col("headers")).as("uri"),
          WarcCols.header(col("headers"), "WARC-Block-Digest").as("digest"),
          col("content_length"))
      val a = listing(outA)
        .select(col("uri"), col("digest").as("digest_a"))
      val b = listing(outB)
        .select(col("uri"), col("digest").as("digest_b"),
          col("content_length").as("b_bytes"))
      val status = when(col("digest_a").isNull, "new")
        .when(col("digest_b").isNull, "gone")
        .when(col("digest_a") =!= col("digest_b"), "changed")
        .otherwise("unchanged")
      a.join(b, Seq("uri"), "full_outer")
        .select(status.as("status"), col("b_bytes"))
        .agg(
          sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("status") === "gone", 1L).otherwise(0L)).as("n_gone"),
          sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
          sum(when(col("status").isin("new", "changed"), col("b_bytes"))
            .otherwise(0L)).as("refetch_bytes"))
    }),

    "w31_wet_export" -> ((s, _) => {
      val out = scratch("w31_wet")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      wetExportFrame(s)
        .coalesce(1)
        .write.format("warc").option("checksum", "true")
        // the write-path null gate: rows whose extraction came back
        // null/empty carry a null content column and are dropped by the
        // sink, not by a filter on `text` — that filter would be pushed
        // below the extraction projection, and only KernelOnce (with the
        // extension registered) keeps it to one kernel evaluation per
        // page; WarcPlanSpec pins one evaluation site without it
        .option("drop_null_content", "true")
        .mode("append").save(out)
      val wet = s.read.format("warc").load(out)
      wet.agg(count(lit(1)).as("n_records"),
        sum(when(col("record_type") === "conversion", 1L).otherwise(0L))
          .as("n_conversion"),
        sum(col("content_length")).as("total_text_bytes"),
        sum(when(col("block_digest_ok"), 1L).otherwise(0L)).as("n_digest_ok"),
        count(graft.functions.WarcCols.header(col("headers"), "WARC-Refers-To"))
          .as("n_refers"))
    }),

    // Real 101-language detection (detect_fast, lang.pyx:111-175) over
    // the main content of real pages: the Chinese/Korean/Russian pages
    // of the fixture corpus detect as such.
    "w16_warc_langs" -> ((s, _) => {
      import graft.functions.Web
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .groupBy(Web.detectLang(Web.extractPlainText(col("http_body"),
          col("http_charset"), mainContent = true)).getField("lang").as("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // The flagship compound operator end-to-end: decode -> parse ->
    // extract_plain_text, full page vs main-content classifier
    // (html2text.pyx:736-933) over real Common Crawl pages.
    "w13_warc_extract" -> ((s, _) => {
      import graft.functions.Web
      scan(s, "warcfile.warc.gz")
        .filter(col("record_type") === "response")
        .select(
          length(Web.extractPlainText(col("http_body"), col("http_charset")))
            .as("full_len"),
          length(Web.extractPlainText(col("http_body"), col("http_charset"),
            mainContent = true)).as("main_len"))
        .orderBy(col("full_len"))
    }),

    // DOM mutation surface end to end (html.pyx:1216-1332 operators
    // packaged as rewrite transforms): strip script/style/.ads subtrees
    // (decompose), stamp rel=nofollow on anchors (setattr), absolutize
    // relative URLs against each record's own base (the re-archival /
    // link-graph cleaning pass). Inline deterministic fixtures; the
    // oracle pins the full rewritten documents (human-auditable).
    "w28_html_rewrite" -> ((s, _) => {
      import graft.functions.Web
      val rows = Seq(
        (1L,
          "<html><head><script>track()</script><title>One</title></head>" +
          "<body><p>Hello</p><div class=\"ads\">AD</div><a href=\"/rel\">x</a></body></html>",
          "http://one.example/a/b.html"),
        (2L, "<p>No wrapper <a href=\"sub/page.html\">link</a>",
          "https://two.example/dir/"),
        (3L,
          "<body><img src=\"i.png\"><a href=\"https://abs.example/\">abs</a>" +
          "<a href=\"#f\">f</a><style>.x{}</style></body>",
          "http://three.example/x/"))
      val df = s.createDataFrame(rows).toDF("doc_id", "html", "base_url")
      val stripped = Web.htmlRemove(encode(col("html"), "utf-8"), lit("utf-8"),
        "script, style, .ads")
      val stamped = Web.htmlSetAttr(encode(stripped, "utf-8"), lit("utf-8"),
        "a", "rel", "nofollow")
      df.select(col("doc_id"),
          Web.htmlAbsolutize(encode(stamped, "utf-8"), lit("utf-8"),
            col("base_url")).as("rw"))
        .select(col("doc_id"),
          col("rw.n_rewritten").as("n_rewritten"),
          col("rw.html").as("html"))
        .orderBy(col("doc_id"))
    }),

    // THE pipeline this engine exists for, end to end: 25,600 real web
    // pages (the w17-w19 corpus) -> scan(responses) -> decode + HTML
    // parse + extract_plain_text (native expression) -> 101-language
    // detect -> quality gate (en, >= 50 tokens) -> exact dedup by
    // content fingerprint -> deterministic hash split (t13's rule).
    //
    // Shaped for one extraction pass: every per-page signal projects in
    // a single scan-stage select; the only shuffle groups 32-char
    // fingerprints (copies of a page collapse map-side), and the final
    // agg is one row. At 100 TB: scan-parallel extraction, fp-keyed
    // combine, O(unique docs) shuffle — nothing else moves.
    //
    // Oracle is a disclosed self-pin (VALUES) like w19: DuckDB cannot
    // run the extraction chain. The corpus is 32 files x 50 copies of
    // the 16 fixture pages (mostly zh — see the w16 histogram), so the
    // gate is token count only and the output tracks language DIVERSITY
    // of the surviving set rather than filtering to one language.
    // The CLEANING funnel — w29's sibling for the gate side of corpus
    // prep: ONE extraction pass (no filter between the projections, so
    // it runs once with or without KernelOnce), then per-page length gate +
    // Aho-Corasick blocklist counts IN the same codegen span, dedup by
    // content fingerprint, and the per-stage attrition counts a data
    // curator actually reads: pages -> unique docs -> long enough ->
    // blocklist-clean. Blocklist terms chosen to HIT real fixture
    // pages ("copyright"/"login"/"sport" appear in 5/2/2 of the 16),
    // so the gate provably fires. Only 32-char fingerprints + two
    // small ints shuffle; map-side combine collapses the 1600 copies
    // per page before the wire.
    "w45_cleaning_funnel" -> ((s, _) => {
      import graft.functions.{TextAnalysis => TA, Web}
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      val bl = Seq("copyright", "login", "sport")
      // the counts array materializes under an alias in its own select
      // (the t33 pattern): CollapseProject declines to inline a
      // non-cheap expression referenced 3x, so the automaton walks each
      // page ONCE (KernelOnce hoists kernels out of Filters only;
      // projections keep them single by this shape)
      val perPage = s.read.format("warc")
        .option("record_types", "response")
        .load(dir)
        .select(Web.extractPlainText(col("http_body"), col("http_charset")).as("text"))
        .select(col("text"), TA.blocklistCounts(lower(col("text")), bl).as("c"))
        .select(md5(col("text")).as("fp"),
          (TA.tokenCount(col("text")) >= 50).cast("int").as("pass_len"),
          bl.indices.map(i => element_at(col("c"), i + 1)).reduce(_ + _)
            .as("n_hits"))
      perPage.groupBy(col("fp"))
        .agg(count(lit(1)).as("copies"), max(col("pass_len")).as("pass_len"),
          max(col("n_hits")).as("n_hits"))
        .agg(
          sum(when(col("fp").isNotNull, col("copies"))).as("n_pages"),
          count(col("fp")).as("n_unique_docs"),
          sum(col("pass_len")).as("n_pass_len"),
          sum(when(col("pass_len") === 1 && col("n_hits") > 0, 1L)
            .otherwise(0L)).as("n_blocked"),
          sum(when(col("pass_len") === 1 && col("n_hits") === 0, 1L)
            .otherwise(0L)).as("n_clean"))
    }),

    "w29_training_pipeline" -> ((s, _) => {
      import graft.functions.Web
      val dir = graft.sources.BenchCorpus.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_bench",
        files = 32, copiesPerFile = 50)
      // No filter between the extraction projection and the downstream
      // select: a `text IS NOT NULL` filter here would be pushed below
      // the projection, and only graft.plans.KernelOnce (registered by
      // GraftExtensions) would then keep decode->parse->extract to one
      // evaluation per page; this shape runs it once without the
      // extension too. Null texts (mem-guard breach only) instead flow
      // to a null-fp group that the final aggregate gates out.
      val perPage = s.read.format("warc")
        .option("record_types", "response")
        .load(dir)
        .select(Web.extractPlainText(col("http_body"), col("http_charset")).as("text"))
        .select(md5(col("text")).as("fp"),
          Web.detectLang(col("text")).getField("lang").as("lang"),
          (graft.functions.TextAnalysis.tokenCount(col("text")) >= 50).cast("int")
            .as("long_enough"))
      val perFp = perPage.groupBy(col("fp"))
        .agg(count(lit(1)).as("copies"),
          max(col("lang")).as("lang"),
          max(col("long_enough")).as("qual"))
      val v = conv(substring(col("fp"), 1, 2), 16, 10).cast("long")
      // null-fp group = extraction-failed pages; only n_pages needs an
      // explicit gate (every other aggregate is already null-gated via
      // qual, which is null for that group)
      perFp.agg(
        sum(when(col("fp").isNotNull, col("copies"))).as("n_pages"),
        sum(col("copies") * col("qual")).as("n_quality_pages"),
        sum(col("qual")).as("n_unique_docs"),
        count_distinct(when(col("qual") === 1, col("lang"))).as("n_langs"),
        sum(when(col("qual") === 1 && v < 204, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("qual") === 1 && v >= 204 && v < 230, 1L).otherwise(0L)).as("n_val"),
        sum(when(col("qual") === 1 && v >= 230, 1L).otherwise(0L)).as("n_test"))
    }),
  )

  /** Ground truth derived independently from the fixture bytes (python
    * reference parse over warcfile.warc; see FIXTURES.md). DuckDB just
    * SELECTs the literals — the compare still checks schema + row hashes.
    */
  val oracleSql: Map[String, String] = Map(
    "w01_warc_types" ->
      """SELECT record_type, CAST(n AS BIGINT) AS n FROM (VALUES
         ('metadata', 16), ('request', 17), ('response', 16), ('warcinfo', 1))
         t(record_type, n) ORDER BY record_type""",
    "w02_warc_http" ->
      """SELECT CAST(200 AS INT) AS http_status, 'text/html' AS http_content_type,
         CAST(16 AS BIGINT) AS n""",
    "w03_warc_digests" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(16 AS BIGINT) AS n_block_present, CAST(16 AS BIGINT) AS n_block_ok,
         CAST(16 AS BIGINT) AS n_payload_present, CAST(16 AS BIGINT) AS n_payload_ok""",
    "w04_warc_offsets" ->
      """SELECT CAST("offset" AS BIGINT) AS "offset", record_type,
         CAST(content_length AS BIGINT) AS content_length FROM (VALUES
         (0, 'warcinfo', 501), (764, 'request', 310), (1428, 'response', 36578),
         (38592, 'metadata', 201), (39175, 'request', 252))
         t("offset", record_type, content_length) ORDER BY "offset"""",
    "w05_warc_codecs" ->
      """SELECT file, CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS sum_content_length FROM (VALUES
         ('warcfile.warc'), ('warcfile.warc.br'), ('warcfile.warc.gz'),
         ('warcfile.warc.lz4'), ('warcfile.warc.zst')) t(file)
         ORDER BY file""",
    // NB: one response carries TWO HTTP Content-Type headers; the
    // reference's Python-facing lookup takes the LAST occurrence
    // (warc.pyx:302-314), which has no charset param — hence none=9.
    "w06_warc_charsets" ->
      """SELECT http_charset, CAST(n AS BIGINT) AS n FROM (VALUES
         ('gb2312', 2), ('none', 9), ('utf-8', 4), ('windows-1251', 1))
         t(http_charset, n) ORDER BY http_charset""",
    // offsets/lengths and the five Last-Modified stamps independently
    // re-derived from the raw fixture bytes with a from-scratch python
    // header parse (email.utils.parsedate_to_datetime for the dates)
    "w07_warc_cdxj" ->
      """SELECT CAST("offset" AS BIGINT) AS "offset", CAST(length AS BIGINT) AS length,
         record_type, CAST(last_modified AS TIMESTAMP) AS last_modified FROM (VALUES
         (0,764,'warcinfo',NULL),(764,664,'request',NULL),
         (1428,37164,'response',NULL),(38592,583,'metadata',NULL),
         (39175,600,'request',NULL),(39775,105492,'response',NULL),
         (145267,583,'metadata',NULL),(145850,649,'request',NULL),
         (146499,16048,'response',NULL),(162547,601,'metadata',NULL),
         (163148,585,'request',NULL),(163733,8926,'response',NULL),
         (172659,657,'metadata',NULL),(173316,674,'request',NULL),
         (173990,15869,'response',TIMESTAMP '2020-07-13 16:53:12'),(189859,586,'metadata',NULL),
         (190445,690,'request',NULL),(191135,38667,'response',TIMESTAMP '2020-08-07 21:01:31'),
         (229802,596,'metadata',NULL),(230398,654,'request',NULL),
         (231052,24027,'response',NULL),(255079,602,'metadata',NULL),
         (255681,643,'request',NULL),(256324,15943,'response',NULL),
         (272267,686,'metadata',NULL),(272953,733,'request',NULL),
         (273686,34435,'response',NULL),(308121,795,'metadata',NULL),
         (308916,715,'request',NULL),(309631,37561,'response',NULL),
         (347192,699,'metadata',NULL),(347891,675,'request',NULL),
         (348566,36154,'response',NULL),(384720,614,'metadata',NULL),
         (385334,626,'request',NULL),(385960,11757,'response',TIMESTAMP '2020-08-03 22:50:23'),
         (397717,763,'metadata',NULL),(398480,622,'request',NULL),
         (399102,109080,'response',NULL),(508182,679,'metadata',NULL),
         (508861,703,'request',NULL),(509564,11549,'response',TIMESTAMP '2020-07-21 20:50:18'),
         (521113,602,'metadata',NULL),(521715,693,'request',NULL),
         (522408,16829,'response',NULL),(539237,595,'metadata',NULL),
         (539832,640,'request',NULL),(540472,8644,'response',TIMESTAMP '2020-05-23 03:09:13'),
         (549116,596,'metadata',NULL),(549712,624,'request',NULL))
         t("offset", length, record_type, last_modified) ORDER BY "offset"""",
    "w08_warc_pushdown" ->
      """SELECT CAST(8 AS BIGINT) AS n, CAST(417729 AS BIGINT) AS total_bytes""",
    // w09-w11 pin the deterministic output of the ICU+WHATWG pipeline on
    // the fixture (regression oracle; sanity cross-checked against the
    // HTTP charset headers — see w06).
    "w09_warc_mime" ->
      """SELECT mime, CAST(n AS BIGINT) AS n FROM (VALUES
         ('application/octet-stream', 2), ('application/xhtml+xml', 9),
         ('text/html', 4), ('text/plain', 1)) t(mime, n) ORDER BY mime""",
    "w10_warc_encodings" ->
      """SELECT enc, CAST(n AS BIGINT) AS n FROM (VALUES
         ('cp1251', 1), ('cp1252', 2), ('gbk', 6), ('utf-8', 7)) t(enc, n)
         ORDER BY enc""",
    "w11_warc_decoded_text" ->
      """SELECT CAST(471175 AS BIGINT) AS total_chars, CAST(16 AS BIGINT) AS n""",
    // round 8: two pages each lost one a[href] vs the earlier pin — those
    // anchors sit inside <iframe> fallback bodies, which the spec (and
    // the reference's lexbor backend) parses as RAW TEXT, not elements;
    // the parser now follows that rule, so the counts moved TOWARD the
    // reference
    "w12_warc_html" ->
      """SELECT CAST(title_len AS INT) AS title_len, CAST(n_links AS INT) AS n_links,
         CAST(n_divs AS INT) AS n_divs FROM (VALUES
         (8,60,25),(14,84,26),(15,73,31),(17,8,56),(20,75,49),(23,92,47),
         (29,22,26),(30,86,19),(31,34,30),(31,35,24),(33,179,75),(38,70,27),
         (44,280,107),(54,83,18),(61,34,30),(86,196,154))
         t(title_len, n_links, n_divs) ORDER BY title_len, n_links""",
    "w13_warc_extract" ->
      """SELECT CAST(full_len AS INT) AS full_len, CAST(main_len AS INT) AS main_len
         FROM (VALUES
         (504,210),(890,377),(1427,1286),(1507,866),(1514,1180),(1527,302),
         (1587,192),(1726,880),(1790,584),(2331,319),(2762,657),(3716,239),
         (3753,2851),(6421,6393),(6685,6493),(13033,1482))
         t(full_len, main_len) ORDER BY full_len""",
    "w14_warc_roundtrip" ->
      """SELECT CAST(16 AS BIGINT) AS n, CAST(518445 AS BIGINT) AS total_bytes,
         CAST(16 AS BIGINT) AS n_digest_ok, CAST(16 AS BIGINT) AS n_with_uri""",
    "w15_warc_req_resp" ->
      """SELECT CAST(16 AS BIGINT) AS n_paired, CAST(518445 AS BIGINT) AS paired_bytes""",
    "w16_warc_langs" ->
      """SELECT lang, CAST(n AS BIGINT) AS n FROM (VALUES
         ('de', 2), ('en', 1), ('ko', 2), ('nl', 1), ('ru', 1), ('zh', 9))
         t(lang, n) ORDER BY lang""",
    // derived from w13's independently-derived per-page goldens: 1600
    // corpus copies x (16 docs, 51,167 extracted chars) per copy
    "w19_html_extract10k" ->
      """SELECT CAST(25600 AS BIGINT) AS n_docs,
         CAST(81876800 AS BIGINT) AS total_len""",
    // disclosed self-pin (extraction is not expressible in DuckDB): all
    // 16 fixture responses extract non-empty text (102557 UTF-8 bytes
    // total), every conversion record round-trips with a verified
    // digest and a WARC-Refers-To back-link. regen_pins.py re-derives
    // the row from Verify output.
    // disclosed self-pin (derived-archive loop closure is not
    // SQL-expressible): all 16 responses produce a metadata record that
    // re-parses from JSON with digest + Refers-To intact; total_links
    // 1198 is the raw extractLinks mass, of which w30's independently
    // pinned 1195 are the host-parseable subset.
    "w37_wat_export" ->
      """SELECT CAST(16 AS BIGINT) AS n_records,
         CAST(16 AS BIGINT) AS n_metadata,
         CAST(16 AS BIGINT) AS n_digest_ok,
         CAST(16 AS BIGINT) AS n_refers,
         CAST(16 AS BIGINT) AS n_json_ok,
         CAST(1198 AS BIGINT) AS total_links,
         CAST(16 AS BIGINT) AS n_titled""",
    // disclosed self-pin: two micro-batches of the 16-response fixture
    // through the shared wetRows projection = exactly 2x the w31 batch
    // totals (102557 text bytes per crawl drop); batch_equal pins the
    // streaming-vs-batch digest-multiset equivalence inside the result.
    "w38_streaming_wet_export" ->
      """SELECT CAST(32 AS BIGINT) AS n_records,
         CAST(32 AS BIGINT) AS n_conversion,
         CAST(205114 AS BIGINT) AS total_text_bytes,
         CAST(32 AS BIGINT) AS n_digest_ok,
         true AS batch_equal""",
    // 16 pages crawled twice (the second time disguised): the naive
    // verbatim-URI gate sees 32 distinct URLs, the canonical gate 16 —
    // the whole re-crawl suppressed, streaming == batch pinned in-row
    "w41_streaming_frontier" ->
      """SELECT CAST(32 AS BIGINT) AS n_input,
         CAST(32 AS BIGINT) AS n_naive_first,
         CAST(16 AS BIGINT) AS n_first,
         CAST(16 AS BIGINT) AS n_dup_suppressed,
         true AS batch_equal""",
    // 16 responses at 4 KiB segments: sum(ceil(len/4096)) = 133 records;
    // every origin reassembles byte-exactly (md5 == source md5) and the
    // logical total is the w14 content-byte constant
    "w40_segment_reassembly" ->
      """SELECT CAST(133 AS BIGINT) AS n_records,
         CAST(16 AS BIGINT) AS n_reassembled,
         CAST(16 AS BIGINT) AS n_bytes_match,
         CAST(518445 AS BIGINT) AS total_bytes""",
    // 16 originals (518,445 content bytes, the w14 round-trip constant)
    // + 16 zero-body revisits, every one resolving with a matching
    // payload digest: logical corpus = 2 × 518,445
    "w39_revisit_resolve" ->
      """SELECT CAST(16 AS BIGINT) AS n_responses,
         CAST(16 AS BIGINT) AS n_resolved,
         CAST(16 AS BIGINT) AS n_digest_match,
         CAST(1036890 AS BIGINT) AS logical_bytes,
         CAST(518445 AS BIGINT) AS stored_bytes""",
    // derived, not re-measured: the bench corpus is 32 files x 50 copies
    // x 16 responses = 25,600 captures of 16 unique payloads, so dedup
    // stores 16 bodies (w39 pins their rewritten sum, 518445 bytes) and
    // 25,584 empty-content revisits; logical size = 1600 copies x 518445
    "w42_dedup_write" ->
      """SELECT CAST(25600 AS BIGINT) AS n_captures,
         CAST(16 AS BIGINT) AS n_stored_bodies,
         CAST(25584 AS BIGINT) AS n_revisits,
         CAST(1600 * 518445 AS BIGINT) AS logical_bytes,
         CAST(518445 AS BIGINT) AS stored_bytes""",
    // independently derived from the raw fixture bytes (python gzip +
    // header parse, NOT this engine): md5(uri) first hex char over the
    // 16 page URIs splits 3 gone (buckets 1,2,3) / 4 changed (4,6,7,7)
    // / 9 unchanged; changed bodies sum 146,660 bytes + 4 x 12-byte
    // " <!-- v2 -->" marker = 146,708, plus 3 new 10-byte pages -> 146,738
    "w43_crawl_delta" ->
      """SELECT CAST(3 AS BIGINT) AS n_new,
         CAST(3 AS BIGINT) AS n_gone,
         CAST(4 AS BIGINT) AS n_changed,
         CAST(9 AS BIGINT) AS n_unchanged,
         CAST(146738 AS BIGINT) AS refetch_bytes""",
    "w31_wet_export" ->
      """SELECT CAST(16 AS BIGINT) AS n_records,
         CAST(16 AS BIGINT) AS n_conversion,
         CAST(102557 AS BIGINT) AS total_text_bytes,
         CAST(16 AS BIGINT) AS n_digest_ok,
         CAST(16 AS BIGINT) AS n_refers""",
    // disclosed self-pin: the 50 fixture records across their three
    // hour-windows (regen: Test/runMain graft.html.W32Probe); the
    // batch_equal column pins streaming == batch inside the artifact
    "w32_streaming_windows" ->
      """SELECT window_start, record_type, CAST(n_records AS BIGINT) AS n_records,
         CAST(total_bytes AS BIGINT) AS total_bytes, CAST(1 AS BOOLEAN) AS batch_equal
         FROM (VALUES
         ('2020-08-08 16:00:00', 'warcinfo', 1, 501),
         ('2020-08-08 17:00:00', 'metadata', 8, 2231),
         ('2020-08-08 17:00:00', 'request', 8, 2380),
         ('2020-08-08 17:00:00', 'response', 8, 265576),
         ('2020-08-08 18:00:00', 'metadata', 8, 1706),
         ('2020-08-08 18:00:00', 'request', 9, 2583),
         ('2020-08-08 18:00:00', 'response', 8, 252869))
         t(window_start, record_type, n_records, total_bytes)
         ORDER BY window_start, record_type""",
    // disclosed self-pin (extraction is not expressible in DuckDB):
    // 25600 pages dedup to the 16 unique fixture pages, all pass the
    // 50-token gate, and the copyright/login/sport blocklist fires on
    // 7 of them (5/2/2 per term with overlaps) leaving 9 clean — the
    // per-term hits re-derivable from the fixture pages' extracted text
    "w45_cleaning_funnel" ->
      """SELECT CAST(25600 AS BIGINT) AS n_pages,
         CAST(16 AS BIGINT) AS n_unique_docs,
         CAST(16 AS BIGINT) AS n_pass_len,
         CAST(7 AS BIGINT) AS n_blocked,
         CAST(9 AS BIGINT) AS n_clean""",
    // disclosed self-pin (extraction + lang detect are not expressible
    // in DuckDB): 32 files x 50 copies x 16 response pages all extract
    // and pass the 50-token gate; dedup collapses them to the 16 unique
    // fixture pages spanning 7 detected languages; the fp-hash split
    // assigns 14/1/1
    "w29_training_pipeline" ->
      """SELECT CAST(25600 AS BIGINT) AS n_pages,
         CAST(25600 AS BIGINT) AS n_quality_pages,
         CAST(16 AS BIGINT) AS n_unique_docs, CAST(7 AS BIGINT) AS n_langs,
         CAST(13 AS BIGINT) AS n_train, CAST(2 AS BIGINT) AS n_val,
         CAST(1 AS BIGINT) AS n_test""",
    // the oracle RECOMPUTES the decoded digests from the same plaintext
    // constructions the fixture writer uses — a drift in any decode step
    // (gunzip, inflate, brotli, dechunk, chain order) breaks the hash
    // compare
    "w20_warc_encoded_bodies" ->
      """SELECT enc, applied, failed, CAST(decoded_len AS INT) AS decoded_len,
                decoded_md5 FROM (VALUES
         ('br', 'br', 'none', 945, md5(repeat('brotli body payload. ', 45))),
         ('chunked-gzip', 'chunked,gzip', 'none', 570, md5(repeat('chunked then gzip. ', 30))),
         ('deflate', 'deflate', 'none', 760, md5(repeat('deflate payload x. ', 40))),
         ('gzip', 'gzip', 'none', 950, md5(repeat('gzip body content. ', 50))))
         t(enc, applied, failed, decoded_len, decoded_md5) ORDER BY enc""",
    // recomputed totals: 1000 lines "line-<i>", not pinned
    "w21_text_source" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(length('line-' || CAST(i AS VARCHAR))) AS BIGINT) AS total_chars
         FROM generate_series(0, 999) t(i)""",
    "w22_point_lookup" ->
      """SELECT CAST(50 AS BIGINT) AS n_found,
         CAST(527846 AS BIGINT) AS sum_content_length""",
    "w23_recompress" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS sum_content_length,
         CAST(16 AS BIGINT) AS n_digest_ok""",
    // disclosed self-pin like w32 (DuckDB cannot run a streaming
    // query): the 16 fixture responses' per-host 5s-gap sessions,
    // re-derivable from the fixture's WARC-Date/URI headers; the one
    // host captured twice (06.live-radsport.ch, 44 min apart) MUST
    // split into two sessions; batch_equal pins streamed == batch
    "w44_streaming_sessions" ->
      """SELECT host, session_start, CAST(5000000 AS BIGINT) AS span_us,
         CAST(1 AS BIGINT) AS n_records, CAST(total_bytes AS BIGINT) AS total_bytes,
         CAST(1 AS BOOLEAN) AS batch_equal FROM (VALUES
         ('003338.cn', '2020-08-08 17:27:41', 36578),
         ('01spb.ru', '2020-08-08 18:31:12', 104911),
         ('035.psb556.com', '2020-08-08 18:39:41', 15432),
         ('037426.cn', '2020-08-08 18:34:24', 8343),
         ('041696.com', '2020-08-08 17:31:34', 15266),
         ('044545.com', '2020-08-08 18:03:24', 38067),
         ('0513mt.com', '2020-08-08 18:07:31', 23420),
         ('05925.net', '2020-08-08 17:41:52', 15330),
         ('06.live-radsport.ch', '2020-08-08 17:11:45', 33802),
         ('06.live-radsport.ch', '2020-08-08 17:55:23', 36937),
         ('0615235.com', '2020-08-08 18:16:00', 35537),
         ('0755krk.com', '2020-08-08 17:40:13', 11153),
         ('0760.jxtdw.com', '2020-08-08 17:22:01', 108477),
         ('077678u.info', '2020-08-08 18:26:03', 10931),
         ('0900-hovenier.nl', '2020-08-08 18:02:09', 16228),
         ('096355.com', '2020-08-08 17:21:07', 8033))
         t(host, session_start, total_bytes)
         ORDER BY host, session_start""",
    // 3 landings x 16 fixture responses through the streaming dedup
    // gate: 16 distinct page bodies emit once each (first landing),
    // the two re-crawl landings are absorbed by cross-micro-batch
    // state; batch_equal pins streamed firsts == batch distinct fps
    "w35_streaming_dedup" ->
      """SELECT CAST(48 AS BIGINT) AS n_input, CAST(16 AS BIGINT) AS n_first,
         CAST(32 AS BIGINT) AS n_dup_suppressed,
         CAST(1 AS BOOLEAN) AS batch_equal""",
    // 40 copies of the 50-record fixture through the write->index->
    // parallel-rescan loop; totals are 40x the independently-derived
    // single-copy sums (see w23/w25).
    "w27_member_index_rescan" ->
      """SELECT CAST(2000 AS BIGINT) AS n_records,
         CAST(21113840 AS BIGINT) AS total_bytes""",
    // foreign fixture: the reference's own 50-record archive, totals
    // the single-copy sums w27's 40x pin derives from; 50 gzip members
    // (record-per-member), indexed == plain pinned in-query
    "w36_foreign_member_index" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS total_bytes,
         CAST(50 AS BIGINT) AS n_members,
         CAST(1 AS BOOLEAN) AS plain_equal""",
    // same foreign fixture through the build-on-first-scan loop: the
    // emitting scan must see the same 50 records / byte total as a
    // plain scan, leave a 50-member sidecar, and the indexed rescan
    // must reproduce the totals exactly
    "w46_emit_member_index" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS total_bytes,
         CAST(50 AS BIGINT) AS n_members,
         CAST(1 AS BOOLEAN) AS indexed_equal""",
    "w47_auto_member_index" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS total_bytes,
         CAST(1 AS BOOLEAN) AS auto_partitions_gt1,
         CAST(1 AS BIGINT) AS disabled_partitions,
         CAST(1 AS BOOLEAN) AS auto_equal""",
    "w48_zstd_roundtrip" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS total_bytes,
         CAST(1 AS BOOLEAN) AS member_parallel,
         CAST(1 AS BOOLEAN) AS gzip_equal""",
    // the full train -> distributed dict write -> member-parallel rescan
    // -> point-read-through-dict loop: totals equal the untrained path
    // and the gzip fixture; all 16 response hits extract their 518,445
    // bytes (FIXTURES.md) through one dictionary load per read group
    "w50_dict_lifecycle" ->
      """SELECT CAST(50 AS BIGINT) AS n_records,
         CAST(527846 AS BIGINT) AS total_bytes,
         CAST(1 AS BOOLEAN) AS dict_trained,
         CAST(1 AS BOOLEAN) AS dict_in_archive,
         CAST(1 AS BOOLEAN) AS plain_equal,
         CAST(1 AS BOOLEAN) AS gzip_equal,
         CAST(16 AS BIGINT) AS n_hits,
         CAST(16 AS BIGINT) AS n_point_extracted,
         CAST(16 AS BIGINT) AS n_uri_match,
         CAST(518445 AS BIGINT) AS point_bytes""",
    // 16 response keys resolve in EVERY archive of the collection, every
    // hit point-extracts, URIs re-match, and each archive's extracted
    // content mass equals the fixture responses' total (518,445 bytes —
    // independent python parse, FIXTURES.md)
    "w49_cdxj_collection_lookup" ->
      """SELECT file, CAST(16 AS BIGINT) AS n_hits,
         CAST(16 AS BIGINT) AS n_extracted,
         CAST(16 AS BIGINT) AS n_uri_match,
         CAST(518445 AS BIGINT) AS sum_content_length FROM (VALUES
         ('collection-dict.warc.zst'), ('collection-gzip.warc.gz'),
         ('collection-lz4.warc.lz4'), ('collection-raw.warc'),
         ('collection-zstd.warc.zst')) t(file)
         ORDER BY file""",
    // Inline-fixture pin: the full rewritten documents, hand-derivable
    // from the three fixture strings in the query (strip script/style/
    // .ads, stamp rel=nofollow, absolutize relative URLs per base).
    "w28_html_rewrite" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_rewritten AS INT) AS n_rewritten, html FROM (VALUES
         (1, 1, '<html><head><title>One</title></head><body><p>Hello</p><a href="http://one.example/rel" rel="nofollow">x</a></body></html>'),
         (2, 1, '<html><head></head><body><p>No wrapper <a href="https://two.example/dir/sub/page.html" rel="nofollow">link</a></p></body></html>'),
         (3, 1, '<html><head></head><body><img src="http://three.example/x/i.png"><a href="https://abs.example/" rel="nofollow">abs</a><a href="#f" rel="nofollow">f</a></body></html>'))
         t(doc_id, n_rewritten, html) ORDER BY doc_id""",
    "w24_header_predicates" ->
      """SELECT CAST(50 AS BIGINT) AS n_warc10, CAST(0 AS BIGINT) AS n_warc11,
         CAST(16 AS BIGINT) AS n_block_digest, CAST(16 AS BIGINT) AS n_payload_digest,
         CAST(32 AS BIGINT) AS n_concurrent,
         CAST(5 AS BIGINT) AS n_last_modified,
         CAST('2020-05-23 03:09:13' AS TIMESTAMP) AS min_last_modified,
         CAST('2020-08-07 21:01:31' AS TIMESTAMP) AS max_last_modified""",
    "w25_resilience" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(49 AS BIGINT) AS n_ok,
         CAST(1 AS BIGINT) AS n_error,
         CAST(527846 AS BIGINT) AS sum_content_length""",
    "w26_host_stats" ->
      """SELECT CAST(16 AS BIGINT) AS n_responses, CAST(15 AS BIGINT) AS n_hosts,
         CAST(2 AS BIGINT) AS max_per_host""",
    // disclosed self-pin (HTML link extraction is not expressible in
    // DuckDB): the 16 real pages carry 1195 resolvable <a href> links
    // spanning 126 destination hosts; most links are intra-site nav
    // (164 external)
    "w30_link_graph" ->
      """SELECT CAST(127 AS BIGINT) AS n_edges, CAST(1195 AS BIGINT) AS n_links,
         CAST(15 AS BIGINT) AS n_src_hosts, CAST(126 AS BIGINT) AS n_dst_hosts,
         CAST(164 AS BIGINT) AS n_external_links""",
    // 1600 copies of the 50-record fixture: 80,000 records.
    "w17_warc_scan10k" ->
      """SELECT CAST(80000 AS BIGINT) AS n_records,
         CAST(844553600 AS BIGINT) AS total_bytes""",
    "w18_warc_scan10k_http" ->
      """SELECT CAST(25600 AS BIGINT) AS n, CAST(25600 AS BIGINT) AS n_200,
         CAST(821160000 AS BIGINT) AS body_bytes""",
    // same 80k records as w17, stored uncompressed / LZ4 — identical
    // totals prove all three codec readers parse the same envelopes
    "w33_warc_scan_uncompressed" ->
      """SELECT CAST(80000 AS BIGINT) AS n_records,
         CAST(844553600 AS BIGINT) AS total_bytes""",
    "w34_warc_scan_lz4" ->
      """SELECT CAST(80000 AS BIGINT) AS n_records,
         CAST(844553600 AS BIGINT) AS total_bytes""",
  )
}
