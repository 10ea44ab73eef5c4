package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** `spark.read.format("warc")` — a DataSource V2 scan over WARC archives,
  * the Spark-native equivalent of the reference's `ArchiveIterator`
  * (fastwarc-py/fastwarc/warc.pyx:1092-1272) + Beam `ReadWarcs`
  * (resiliparse-py/resiliparse/beam/warcio.py:43-98).
  *
  * Scale design (the part that matters at 100 TB):
  *  - a compressed archive is read whole by one task (gzip/LZ4 are
  *    forward-only streams — the same constraint the Beam source has),
  *    and small whole files are packed several to a task, Spark's
  *    file-source rule (`WarcPlanner.pack`), the way Beam bundles many
  *    small archives into one worker's work;
  *  - UNcompressed archives larger than `maxPartitionBytes` are split into
  *    byte ranges with resync-to-next-version-line semantics (the Beam
  *    restriction-tracker analog, warcio.py:101-109): a record belongs to
  *    the split containing its start offset;
  *  - pushed-down filters (record type, content length) are evaluated
  *    BEFORE the payload is materialized, and filtered payloads are
  *    skipped, never buffered — the reference's single biggest scan
  *    throughput lever (warc.pyx:1246);
  *  - column pruning reaches the parser: if no content/http/digest column
  *    is required the scan never buffers a payload at all, and HTTP
  *    parsing happens only when an http_* column is referenced
  *    (envelope-only early exit, warc.pyx:1216-1230);
  *  - malformed records surface as rows with `error` set, never task
  *    failures (exc_loop doctrine, itertools.pyx:37-63).
  *
  * Options (mirror ArchiveIterator kwargs, warc.pyx:1102-1124):
  *   record_types          csv of type names to keep (pushdown)
  *   min_content_length    long, -1 = off
  *   max_content_length    long, -1 = off
  *   always_keep_meta      keep envelope of over-long records (payload null)
  *   parse_http            default true (auto-disabled by column pruning)
  *   strict                require WARC/1.x version lines
  *   split_uncompressed    default true
  *   max_partition_bytes   split size for uncompressed files and the cap
  *                         on a packed bin of small files (default 128 MiB)
  *
  * Beyond the reference's kwargs (this engine's scale surface):
  *   member_index          CDXJ / .idx file, glob or dir: member-parallel
  *                         splits for compressed archives (WarcPlanner)
  *   member_index_shard_bytes  consolidated indexes above this size
  *                         (default 64 MB) are sharded into per-file
  *                         sidecars by a distributed job (CdxjShards,
  *                         cached by source fingerprint) instead of
  *                         read-and-sorted on the driver
  *   member_index_scratch  where the shard job writes its sidecars
  *                         (default java.io.tmpdir — set a SHARED path
  *                         on a multi-node cluster)
  *   auto_member_index     default true: discover `<file>.idx` sidecars at
  *                         plan time, executors parse their own IdxSlice
  *   emit_member_index     dir: clean whole-file scans commit the sidecar
  *                         as a side-output (record-addressable for free)
  *   stream_retries        int: whole-stream resume (warc_retry) AND the
  *                         member-scan transient-retry budget (floor 2)
  *   async_decode          default false: chunk-pipeline decode for
  *                         latency-bound remote streams (NOT a local win —
  *                         measured and rejected as default, PROFILE_r16)
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcSchema.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(new CaseInsensitiveStringMap(properties))
  // write path: accept the incoming DataFrame's schema (a subset of the
  // scan schema) instead of requiring all 20 columns
  override def supportsExternalMetadata(): Boolean = true
}

object WarcSchema {
  val headerType: ArrayType = ArrayType(
    StructType(Seq(StructField("key", StringType), StructField("value", StringType))),
    containsNull = false)

  /** The engine's core WARC row (SURVEY.md §1.4). Ordered multimap headers
    * as array<struct> — order + duplicate keys are semantic, MapType would
    * destroy both.
    */
  val schema: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("offset", LongType),
    StructField("length", LongType),
    StructField("record_id", StringType),
    StructField("record_type", StringType),
    StructField("record_type_mask", IntegerType),
    StructField("record_date", TimestampType),
    StructField("content_length", LongType),
    StructField("headers", headerType),
    StructField("is_http", BooleanType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("http_charset", StringType),
    StructField("http_date", TimestampType),
    StructField("http_last_modified", TimestampType),
    StructField("http_headers", headerType),
    StructField("content", BinaryType),
    StructField("http_body", BinaryType),
    StructField("block_digest_ok", BooleanType),
    StructField("payload_digest_ok", BooleanType),
    StructField("error", StringType),
    StructField("warc_version", StringType),
    // size in bytes of the archive file this record came from (scan-time
    // metadata): lets index/CDXJ queries compute the LAST record's length
    // as file_size - offset without fixture constants
    StructField("file_size", LongType)))

  /** Columns whose evaluation requires the HTTP header split. */
  val httpCols: Set[String] = Set(
    "is_http", "http_status", "http_content_type", "http_charset",
    "http_date", "http_last_modified", "http_headers", "http_body",
    "payload_digest_ok")

  /** Columns whose evaluation requires the payload bytes. */
  val payloadCols: Set[String] = Set(
    "content", "http_body", "block_digest_ok", "payload_digest_ok") ++ httpCols
}

class WarcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc(${WarcInput.paths(options).mkString(",")})"
  override def schema(): StructType = WarcSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WarcWriteBuilder(info, new CaseInsensitiveStringMap(
      (options.asScala ++ info.options().asScala).asJava))
}

object WarcInput {
  /** `s3://bucket/key` inputs (the reference CLI's S3 URL form,
    * fastwarc-py/fastwarc/cli.py:291-348) route to the `s3a` connector
    * — the maintained Hadoop S3 client — unless the deployment has
    * bound its own `fs.s3.impl`. Rewrite is at path-parse time so
    * listing, splits and the scan all see one scheme.
    */
  private[graft] def normalizeScheme(p: String, conf: Configuration): String =
    if (p.startsWith("s3://") && conf.get("fs.s3.impl") == null)
      "s3a://" + p.substring(5)
    else p

  /** Load paths arrive as option "paths" (JSON array) or "path". */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readValue(json, classOf[Array[String]]).toSeq
    }
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /** Executor-side per-JVM Configuration cache keyed by the shipped
    * fs-props map: Configuration construction parses the default XML
    * resources (~ms), which would dominate per-group work in grouped
    * point reads at million-hit scale. Configuration is thread-safe for
    * the read-mostly use here (FileSystem.get caches separately).
    */
  @volatile private var confCache: (Map[String, String], Configuration) = null
  def cachedConf(props: Map[String, String]): Configuration = {
    val c = confCache
    if (c != null && c._1 == props) c._2
    else {
      val conf = new Configuration()
      props.foreach { case (k, v) => conf.set(k, v) }
      val wrapped = withHttpFs(conf)
      confCache = (props, wrapped)
      wrapped
    }
  }

  /** Expand globs / directories into concrete files (driver side). A
    * path that matches nothing contributes no files: a streaming landing
    * directory may start empty. */
  def listFiles(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap(p => expand(p, conf).getOrElse(Seq.empty))

  /** [[listFiles]] for batch scans: like parquet, a missing path or a
    * glob that matches nothing is Spark's PATH_NOT_FOUND analysis error,
    * never a silent empty scan. An existing empty directory is 0 rows. */
  def listBatchFiles(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap(p => expand(p, conf).getOrElse(
      throw org.apache.spark.sql.GraftColumnBridge.dataPathNotExistError(p)))

  /** The files under `p0`, or None when it matches no path at all. */
  private def expand(p0: String, conf: Configuration): Option[Seq[FileStatus]] = {
    val hp = new Path(normalizeScheme(p0, conf))
    val fs = hp.getFileSystem(conf)
    Option(fs.globStatus(hp)).filter(_.nonEmpty).map(_.toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    })
  }

  /** Plain `http(s)://` archive URLs (the reference CLI's direct
    * Common-Crawl-over-HTTPS streaming, fastwarc-py/fastwarc/cli.py:
    * 291-348): Hadoop ships a read-only open()-only HttpFileSystem, but
    * core-default does not register it — bind the scheme impls when the
    * deployment hasn't chosen its own. Forward streaming scans are
    * exactly the supported surface; globs/listings and range/member
    * splits need a listable, seekable FS and stay unavailable over http.
    */
  def withHttpFs(conf: Configuration): Configuration = {
    if (conf.get("fs.http.impl") == null)
      conf.set("fs.http.impl", "org.apache.hadoop.fs.http.HttpFileSystem")
    if (conf.get("fs.https.impl") == null)
      conf.set("fs.https.impl", "org.apache.hadoop.fs.http.HttpsFileSystem")
    conf
  }

  /** Archive data files only: skip hidden/temp files (Hadoop convention)
    * and the writer's `.idx` member-index sidecars.
    */
  def isDataFile(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_") && !name.endsWith(".idx")

  /** Likely-splittable = not a known compressed extension. The executor
    * re-checks by magic bytes: a mid-file partition of a file that turns
    * out compressed yields no rows (same contract as Hadoop's unsplittable
    * codecs), so a wrong guess affects parallelism, never correctness.
    */
  def looksUncompressed(name: String): Boolean = {
    val n = name.toLowerCase
    !(n.endsWith(".gz") || n.endsWith(".gzip") || n.endsWith(".lz4") ||
      n.endsWith(".zst") || n.endsWith(".bz2") || n.endsWith(".br"))
  }

  /** Decoded-size estimate of an archive from its name and on-disk length:
    * compressed archives count ~4× their bytes (text-dominant WARC
    * payloads), uncompressed ones count as they are. Deliberately coarse;
    * the scan's size statistics and the planner's packing weight both
    * use it.
    */
  def decodedBytes(name: String, len: Long): Long =
    if (looksUncompressed(name)) len else len * 4

  /** Parse one member-index file — JSON-lines `.idx`
    * (`{"filename":…,"offset":…}` as the WARC sink, MemberIndex pass,
    * and `emit_member_index` all write) or standard CDXJ
    * (`<url> <ts> {json}` with offset/filename in the JSON block,
    * possibly as strings, as pywb writes) — into (data-file basename,
    * compressed member offset) pairs. Malformed lines are skipped, not
    * fatal: a half-garbage foreign CDXJ still parallelizes the members
    * it does address, and plan time is the wrong place to die over a
    * sidecar (the scan itself never depends on index correctness for
    * completeness — offsets are verified by the member decode).
    */
  def readMemberIndexFile(path: Path, conf: Configuration): Seq[(String, Long)] = {
    val in = path.getFileSystem(conf).open(path)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
                finally in.close()
    lines.flatMap(parseIdxLine)
  }

  // ObjectMapper is thread-safe for readTree and expensive to construct;
  // one shared instance serves every index-line parse (driver AND the
  // executor-side CdxjShards job)
  private lazy val idxLineMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One index line → (data-file basename, compressed member offset).
    * Accepts both the engine's JSON-lines `.idx` format and standard
    * CDXJ (`<url> <ts> {json}`, offsets possibly as strings as pywb
    * writes). Malformed lines parse to None, never fail.
    */
  def parseIdxLine(l: String): Option[(String, Long)] = {
    val j = l.indexOf('{')
    if (j < 0) None
    else scala.util.Try {
      val node = idxLineMapper.readTree(l.substring(j))
      val off = Option(node.get("offset")).flatMap { o =>
        if (o.isNumber) Some(o.asLong())
        else scala.util.Try(o.asText().trim.toLong).toOption
      }
      for (f <- Option(node.get("filename")).map(_.asText()); o <- off)
        yield f.substring(f.lastIndexOf('/') + 1) -> o
    }.toOption.flatten
  }

  /** Executor-side parse of one sidecar byte slice: the member offsets
    * whose index LINES start inside `[byteStart, byteEnd)` (Hadoop
    * text-split line ownership), plus the first valid offset found at or
    * after `byteEnd` — the decode bound chaining this slice to the next
    * (None = this slice runs to EOF). Offsets are deduped and REQUIRED
    * monotone: each slice verifies its own lines are non-decreasing and
    * that its bound exceeds its last owned offset, and since slice i's
    * bound line IS slice i+1's first owned line, the local checks chain
    * into a whole-file monotonicity proof — a hand-edited or foreign
    * out-of-order sidecar fails loudly (clear exception naming the file)
    * instead of silently double-scanning a byte range. Lines that fail
    * to parse or name another file are skipped (same lenient contract as
    * readMemberIndexFile — offsets are verified by the member decode).
    */
  def readIdxSlice(idx: IdxSlice, dataBasename: String, conf: Configuration)
      : (Array[Long], Option[Long]) = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val hp = new Path(idx.idxPath)
    val in = hp.getFileSystem(conf).open(hp)
    try {
      // Hadoop LineRecordReader convention: start at byteStart-1 so a
      // line beginning exactly AT byteStart is recognized as ours (the
      // preceding byte is its '\n'); otherwise the partial line belongs
      // to the previous slice and we skip to the next line start.
      val seekAt = math.max(0L, idx.byteStart - 1)
      if (seekAt > 0) in.seek(seekAt)
      // byte-exact line walk (BufferedReader.readLine would mis-count
      // CRLF terminators and drift the ownership boundary — a silent
      // duplicate/loss hazard at slice edges)
      val bin = new java.io.BufferedInputStream(
        new java.io.FilterInputStream(in) { override def close(): Unit = () },
        64 * 1024)
      var pos = seekAt
      val lineBuf = new java.io.ByteArrayOutputStream(256)
      /** Read one '\n'-terminated line starting at `pos`; returns null at
        * EOF, else the line WITHOUT its terminator, advancing `pos` past
        * the terminator (or to EOF for an unterminated last line).
        */
      def readLineBytes(): String = {
        lineBuf.reset()
        var c = bin.read()
        if (c < 0) return null
        while (c >= 0 && c != '\n') { lineBuf.write(c); pos += 1; c = bin.read() }
        if (c >= 0) pos += 1
        new String(lineBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      }
      if (idx.byteStart > 0) {
        // consume through the first '\n' at/after seekAt; the next line
        // start is ours iff it is < byteEnd
        readLineBytes(): Unit
      }
      def parseOffset(line: String): Option[Long] = {
        val j = line.indexOf('{')
        if (j < 0) None
        else scala.util.Try {
          val node = m.readTree(line.substring(j))
          val off = Option(node.get("offset")).flatMap { o =>
            if (o.isNumber) Some(o.asLong())
            else scala.util.Try(o.asText().trim.toLong).toOption
          }
          Option(node.get("filename")).map(_.asText())
            .filter(f => f.substring(f.lastIndexOf('/') + 1) == dataBasename)
            .flatMap(_ => off)
        }.toOption.flatten
      }
      val owned = scala.collection.mutable.ArrayBuilder.make[Long]
      var last = Long.MinValue
      var bound: Option[Long] = None
      var lineStart = pos
      var line = readLineBytes()
      while (line != null && bound.isEmpty) {
        parseOffset(line).foreach { o =>
          if (o < last)
            throw new IllegalStateException(
              s"member index ${idx.idxPath} is not offset-monotone at byte " +
              s"$lineStart (offset $o after $last); rebuild the sidecar, or " +
              "pass it as a SINGLE consolidated index file via member_index " +
              "(the plan-time sorted path, which accepts any line order)")
          if (lineStart < idx.byteEnd) { if (o != last) owned += o }
          else bound = Some(o)
          last = o
        }
        lineStart = pos
        // past byteEnd with no valid bound yet: keep reading until the
        // first parseable line (its offset chains us to the slice that
        // owns it) or EOF
        line = if (bound.isEmpty) readLineBytes() else null
      }
      (owned.result(), bound)
    } finally in.close()
  }

  /** Probe result of [[probeIdxPrefix]]: is this sidecar safe for the
    * IdxSlice fast path, or must the scan degrade — and how?
    */
  sealed trait IdxProbe
  /** Prefix offsets are monotone: take the IdxSlice path. */
  case object IdxOk extends IdxProbe
  /** Prefix offsets are NOT offset-sorted (a URL/SURT-sorted CDXJ, the
    * common foreign per-file sidecar): every slice must degrade to the
    * whole-sidecar read-and-sort path.
    */
  case object IdxDisordered extends IdxProbe
  /** The sidecar vanished between plan and execution (deleted, or an
    * out-of-band rewrite the FS surfaces as not-found): degrade to a
    * whole-file scan.
    */
  case object IdxMissing extends IdxProbe

  /** Cheap executor-side order pre-validation of a sidecar (the ADVICE
    * r16 medium finding): real-world per-file CDXJ sidecars are commonly
    * URL/SURT-sorted rather than offset-sorted, and the IdxSlice fast
    * path REQUIRES offset order — failing the query over an
    * auto-discovered convenience would regress the "auto-discovery must
    * never fail a query" contract. Every slice of a file reads the SAME
    * first `prefixBytes` of the sidecar and applies the same rule, so
    * the degrade decision is deterministic and identical across slices
    * (the property a per-slice local check cannot have: disorder in
    * slice j is invisible to slice i, and a mixed fast/degraded scan
    * double-reads members). Disorder past the prefix in a
    * prefix-monotone sidecar still fails loudly in [[readIdxSlice]] —
    * the deliberate backstop against silent double-scans, now reachable
    * only by a sidecar that is offset-sorted for 64 KiB and then isn't.
    */
  // per-JVM probe memo keyed by (path, mtime, length): every slice of
  // every task computes the same verdict from the same bytes, so one
  // probe per sidecar VERSION per executor suffices — the memoized
  // check costs one getFileStatus RPC instead of an open + 64 KiB read
  // per task (~800 redundant GETs per 100 GB archive on s3a otherwise)
  private val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), IdxProbe]()

  def probeIdxPrefix(idxPath: String, dataBasename: String,
      conf: Configuration, prefixBytes: Int = 64 * 1024): IdxProbe = {
    val hp = new Path(idxPath)
    val st =
      try hp.getFileSystem(conf).getFileStatus(hp)
      catch { case _: java.io.FileNotFoundException => return IdxMissing }
    val key = (idxPath, st.getModificationTime, st.getLen)
    val memo = probeMemo.get(key)
    if (memo != null) return memo
    val verdict = probeIdxPrefixUncached(hp, dataBasename, conf, prefixBytes)
    // bound the memo (foreign per-query sidecars could otherwise grow it
    // without limit over an executor's lifetime)
    if (probeMemo.size > 4096) probeMemo.clear()
    if (verdict != IdxMissing) probeMemo.put(key, verdict)
    verdict
  }

  private def probeIdxPrefixUncached(hp: Path, dataBasename: String,
      conf: Configuration, prefixBytes: Int): IdxProbe = {
    val in =
      try hp.getFileSystem(conf).open(hp)
      catch { case _: java.io.FileNotFoundException => return IdxMissing }
    try {
      val buf = new Array[Byte](prefixBytes)
      var got = 0; var r = 0
      while (got < prefixBytes && r >= 0) {
        r = in.read(buf, got, prefixBytes - got)
        if (r > 0) got += r
      }
      val sawEof = r < 0
      // complete lines only: an unterminated tail line is dropped unless
      // we reached EOF (then it is the file's real last line)
      var end = got
      if (!sawEof) {
        while (end > 0 && buf(end - 1) != '\n') end -= 1
      }
      var last = Long.MinValue
      var lineStart = 0
      var i = 0
      while (i <= end) {
        if (i == end || buf(i) == '\n') {
          if (i > lineStart) {
            val line = new String(buf, lineStart, i - lineStart,
              java.nio.charset.StandardCharsets.UTF_8)
            // ONE copy of the line-parse rules (parseIdxLine) — the
            // probe and the real parse must never diverge on format
            parseIdxLine(line).filter(_._1 == dataBasename).foreach {
              case (_, o) =>
                if (o < last) return IdxDisordered
                last = o
            }
          }
          lineStart = i + 1
        }
        i += 1
      }
      IdxOk
    } catch { case _: java.io.FileNotFoundException => IdxMissing }
    finally in.close()
  }
}

class WarcScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WarcSchema.schema

  /** Extract scan-enforceable predicates. Everything is ALSO re-evaluated
    * by Spark post-scan (we return the full filter list as residual) —
    * pushdown here is a data-skipping optimization, not the correctness
    * boundary, because error-records (e.g. missing Content-Length) carry
    * sentinel values the residual filter must still see.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(WarcPushdown.supported)
    filters // all residual: Spark re-checks (cheap, columnar, correct)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Spark always passes a subset of our schema in our field order.
    required = requiredSchema
  }

  override def build(): Scan = new WarcScan(options, pushed, required)
}

object WarcPushdown {
  def supported(f: Filter): Boolean = f match {
    case EqualTo("record_type", _: String) => true
    case In("record_type", vs) => vs.forall(_.isInstanceOf[String])
    case EqualTo("record_type_mask", _) => true
    case GreaterThan("content_length", _) => true
    case GreaterThanOrEqual("content_length", _) => true
    case LessThan("content_length", _) => true
    case LessThanOrEqual("content_length", _) => true
    case _ => false
  }

  /** Fold pushed filters into parser options (the ArchiveIterator kwargs). */
  def toParseOptions(base: WarcParseOptions, filters: Array[Filter]): WarcParseOptions = {
    var o = base
    filters.foreach {
      case EqualTo("record_type", v: String) =>
        o = o.copy(recordTypeMask = o.recordTypeMask & RecordType.mask(v))
      case In("record_type", vs) =>
        o = o.copy(recordTypeMask =
          o.recordTypeMask & RecordType.maskOf(vs.collect { case s: String => s }))
      case EqualTo("record_type_mask", v) =>
        o = o.copy(recordTypeMask = o.recordTypeMask & anyToLong(v).toInt)
      case GreaterThan("content_length", v) =>
        o = o.copy(minContentLength = math.max(o.minContentLength, anyToLong(v) + 1))
      case GreaterThanOrEqual("content_length", v) =>
        o = o.copy(minContentLength = math.max(o.minContentLength, anyToLong(v)))
      case LessThan("content_length", v) =>
        o = o.copy(maxContentLength = minPos(o.maxContentLength, anyToLong(v) - 1))
      case LessThanOrEqual("content_length", v) =>
        o = o.copy(maxContentLength = minPos(o.maxContentLength, anyToLong(v)))
      case _ =>
    }
    o
  }
  private def anyToLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case other => other.toString.toLong
  }
  private def minPos(a: Long, b: Long): Long = if (a < 0) b else math.min(a, b)
}

/** A byte range of one file. `start > 0` only for uncompressed archives;
  * the reader resyncs to the first record starting at/after `start` and
  * stops at the first record starting at/after `end`.
  *
  * `memberOffsets` non-empty = a member-aligned slice of a compressed
  * archive (offsets from a member index — CDXJ or the writer's log):
  * the reader seeks each compressed member offset and decodes that
  * member alone, which parallelizes a single large gzip archive — the
  * Beam-dynamic-splitting analog the plain gzip path can't have.
  * Record offsets then report COMPRESSED member coordinates (the
  * reference's stream_pos semantics for compressed inputs, and the
  * seekable address for point lookups).
  *
  * `idx` set (and `memberOffsets` empty) = the same member-aligned scan,
  * but the partition carries a BYTE RANGE of the per-file `.idx` sidecar
  * instead of materialized offsets: the executor parses its own slice
  * (one bounded sidecar read per task) and derives the member offsets it
  * owns. This keeps plan-time driver work at O(files + partitions) —
  * at 100 TB / ~10^10 members, materializing every offset on the driver
  * is tens of GB of heap plus task-payload bloat, the Spark analog of a
  * Beam restriction tracker never materializing all split points up
  * front (beam/warcio.py:101-109).
  */
case class WarcInputPartition(
    path: String, start: Long, end: Long, fileSize: Long,
    memberOffsets: Seq[Long] = Nil,
    idx: Option[IdxSlice] = None) extends InputPartition

/** A byte slice `[byteStart, byteEnd)` of a JSON-lines `.idx` member
  * sidecar (engine format: one line per member, offsets monotone —
  * the writer sink, the MemberIndex pass, and `emit_member_index` all
  * write it that way). Line ownership uses the Hadoop text-split
  * convention: a line belongs to the slice containing its first byte;
  * a reader whose slice starts mid-line skips to the next line start.
  */
/** `planLen` pins the sidecar length observed at PLAN time (-1 =
  * unknown, for directly constructed slices): the disordered-degrade
  * path parses exactly the first `planLen` bytes on every slice, so
  * lines a concurrent indexer appends between plan and execution can
  * never make two slices compute different member tilings (the fast
  * path is append-safe by construction — its bound chaining reads
  * appended lines only as monotone decode bounds).
  */
case class IdxSlice(idxPath: String, byteStart: Long, byteEnd: Long,
    planLen: Long = -1L)

/** Several small whole-file partitions read by ONE task, one file after
  * the other (the planner's packed bin, see `WarcPlanner.pack`). Each
  * file keeps its own `WarcPartitionReader`, so every per-file contract
  * (error rows, stream-death check, retries, member-index side-output)
  * holds unchanged inside the bin.
  */
case class WarcFilesPartition(files: Seq[WarcInputPartition]) extends InputPartition

object WarcFilesPartition {
  /** The per-file partitions a planned partition covers. */
  def unpack(p: InputPartition): Seq[WarcInputPartition] = p match {
    case w: WarcInputPartition => Seq(w)
    case b: WarcFilesPartition => b.files
  }
}

class WarcScan(
    options: CaseInsensitiveStringMap,
    filters: Array[Filter],
    required: StructType) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Planner size hint. Without it a V2 source reports
    * `defaultSizeInBytes` (effectively +inf), so a JOIN against even a
    * one-file archive can never choose broadcast — at 100 TB the common
    * "enrich corpus with a small curated WARC set" join degrades to a
    * full shuffle of the corpus. The estimate is deliberately coarse
    * (a hint gates broadcast at ~10 MB; being 2× off is harmless): each
    * archive counts its decoded-size estimate (`WarcInput.decodedBytes`),
    * and an envelope-only scan (payload pruned away) counts ~1/10 of it —
    * headers are a sliver of a crawl archive's bytes. numRows stays
    * unknown: record sizes vary by orders of magnitude and a bad row
    * estimate is worse than none.
    */
  // the planner may ask for statistics several times per query; the
  // file listing is a driver-side FS round-trip (expensive on object
  // stores with 100k archives), so compute once per Scan instance
  private lazy val estimatedBytes: Long = {
    val conf = WarcInput.withHttpFs(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val o = parseOpts
    WarcInput.listFiles(WarcInput.paths(options), conf)
      .filter(st => WarcInput.isDataFile(st.getPath.getName))
      .map { st =>
        val decoded = WarcInput.decodedBytes(st.getPath.getName, st.getLen)
        if (o.readPayload) decoded else math.max(decoded / 10, 1L)
      }.sum
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(estimatedBytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def toBatch: Batch = this

  /** Spark-UI observability: per-scan record/error/byte counters
    * surfaced as SQL metrics on the BatchScan node — at 100 TB the
    * error-row count IS the data-quality dashboard (exc_loop doctrine
    * turns corruption into rows, so without a metric it is invisible
    * until someone queries the error column).
    */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new WarcScanMetrics.Records, new WarcScanMetrics.ErrorRows,
    new WarcScanMetrics.ContentBytes, new WarcScanMetrics.Files)
  override def description(): String = {
    val o = parseOpts
    val eff = Seq(
      if (o.recordTypeMask != RecordType.AnyType) Some(s"typeMask=${o.recordTypeMask}") else None,
      if (o.minContentLength >= 0) Some(s"minLen=${o.minContentLength}") else None,
      if (o.maxContentLength >= 0) Some(s"maxLen=${o.maxContentLength}") else None,
      if (!o.parseHttp) Some("httpParse=off") else None,
      if (!o.readPayload) Some("payload=skipped") else None).flatten
    s"WarcScan[cols=${required.fieldNames.mkString(",")}, " +
      s"pushed=[${filters.mkString(",")}], effective=[${eff.mkString(",")}]]"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = WarcInput.withHttpFs(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val files = WarcInput.listBatchFiles(WarcInput.paths(options), conf)
    WarcPlanner.plan(files, options, conf, WarcPlanner.sessionPacking())
  }

  /** Ship only filesystem-relevant hadoop conf entries (serializable,
    * small); local/file and default FS need nothing beyond defaults.
    */
  private def fsProps: Map[String, String] = {
    val conf = WarcInput.withHttpFs(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    conf.iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter { case (k, _) => k.startsWith("fs.") || k.startsWith("io.") }
      .toMap
  }

  private def parseOpts: WarcParseOptions = {
    val needed = required.fieldNames.toSet
    val baseOpts = WarcParseOptions(
      parseHttp = options.getBoolean("parse_http", true) &&
        needed.exists(WarcSchema.httpCols),
      readPayload = needed.exists(WarcSchema.payloadCols),
      strict = options.getBoolean("strict", false),
      keepMetaOverMax = options.getBoolean("always_keep_meta", false),
      minContentLength = options.getLong("min_content_length", -1L),
      maxContentLength = options.getLong("max_content_length", -1L),
      recordTypeMask = Option(options.get("record_types"))
        .map(s => RecordType.maskOf(s.split(",").map(_.trim).filter(_.nonEmpty)))
        .getOrElse(RecordType.AnyType))
    WarcPushdown.toParseOptions(baseOpts, filters)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(parseOpts, required, fsProps,
      options.getInt("stream_retries", 0),
      Option(options.get("emit_member_index")),
      options.getBoolean("async_decode", false))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(options, parseOpts, required, fsProps)
}

/** The partition planner, shared by the batch scan and the micro-batch
  * stream (a streaming BACKFILL of large indexed archives wants the same
  * member-parallel splits a batch scan gets — one whole-file partition
  * per 100 GB archive per trigger would serialize the backfill on single
  * executors). Each file is planned on its own first (member-index
  * slices, raw byte ranges, or the whole file); the whole-file
  * partitions are then packed into slot-sized bins ([[pack]]). Plan-time
  * driver work is O(files + partitions): sidecars are never read here
  * (IdxSlice), and existence probes batch per parent directory.
  */
private[sources] object WarcPlanner {
  /** The session settings Spark's own file sources pack by
    * (`spark.sql.files.openCostInBytes`; `spark.sql.files.minPartitionNum`,
    * else the leaf-node default parallelism). */
  final case class Packing(openCost: Long, minPartitionNum: Int)

  def sessionPacking(): Packing = {
    val session = org.apache.spark.sql.SparkSession.active
    val sql = session.sessionState.conf
    val minParts = sql.filesMinPartitionNum.getOrElse(
      sql.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(session.sparkContext.defaultParallelism))
    Packing(sql.filesOpenCostInBytes, minParts)
  }

  def plan(files: Seq[FileStatus], options: CaseInsensitiveStringMap,
      conf: Configuration, packing: Packing): Array[InputPartition] = {
    val split = options.getBoolean("split_uncompressed", true)
    val maxPart = options.getLong("max_partition_bytes", 128L * 1024 * 1024)
    // member index: JSON-lines {"filename": ..., "offset": <compressed>}
    // (the writer's .idx / `index --members` sidecar) OR standard CDXJ
    // (`<searchable-url> <timestamp> {json}` as pywb/OpenWayback and the
    // reference CLI emit, with offset/filename inside the JSON block —
    // possibly as STRINGS, which pywb writes) — so an archive that
    // already ships a CDXJ gets member-parallel intra-file splits
    // without ever running this engine's own index builder. Keyed by
    // basename. The option accepts a file, a glob, or a directory of
    // .idx sidecars. Offsets are deduped (a CDXJ lists one line per
    // capture, several per member is legal) and need not start at 0 —
    // the first slice is anchored to the file head below, so a
    // responses-only CDXJ still yields a COMPLETE parallel scan
    // (records between two indexed offsets ride in their slice).
    val dataNames = files.filter(st => WarcInput.isDataFile(st.getPath.getName))
      .map(_.getPath.getName).toSet
    // Explicit member_index splits two ways (r16): per-file sidecars
    // whose NAME matches a data file (`<data>.idx` — the engine's own
    // format, monotone by construction) take the same zero-plan-read
    // IdxSlice path auto-discovery uses; everything else (a single
    // consolidated CDXJ, oddly named indexes) is read and sorted at
    // plan time when SMALL — and sharded into per-file sidecars by a
    // distributed job (CdxjShards, cached by source fingerprint) when
    // the consolidated bytes exceed `member_index_shard_bytes` (default
    // 64 MB). The shard path is what bounds the pywb-convention
    // collection index at 100 TB: ~10^10 consolidated lines would be
    // tens of GB of driver heap on the read-and-sort path, but the
    // shard job keeps the driver at O(files) and every later plan of
    // the same index reuses the cached shards through IdxSlice.
    val (explicitSidecars: Map[String, FileStatus],
         memberIndex: Map[String, Seq[Long]]) =
      Option(options.get("member_index")).map { idxPath =>
        val listed = WarcInput.listFiles(Seq(idxPath), conf)
        val (matched, foreign) =
          if (listed.size > 1) {
            val idxFiles = listed.filter(_.getPath.getName.endsWith(".idx"))
            idxFiles.partition(st =>
              dataNames.contains(st.getPath.getName.stripSuffix(".idx")))
          } else (Seq.empty[FileStatus], listed)
        val matchedMap = matched.map(st =>
          st.getPath.getName.stripSuffix(".idx") -> st).toMap
        val shardThreshold =
          options.getLong("member_index_shard_bytes", 64L * 1024 * 1024)
        if (foreign.nonEmpty && foreign.map(_.getLen).sum > shardThreshold) {
          val shards = CdxjShards.ensure(foreign,
            Option(options.get("member_index_scratch")), conf)
          (matchedMap ++ shards.view.filterKeys(dataNames.contains).toMap,
           Map.empty[String, Seq[Long]])
        } else
          (matchedMap,
           foreign.flatMap(st => WarcInput.readMemberIndexFile(st.getPath, conf))
             .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap)
      }.getOrElse((Map.empty[String, FileStatus], Map.empty[String, Seq[Long]]))

    // Sidecar auto-discovery (`auto_member_index`, default on — the
    // Spark analog of Beam re-splitting a RUNNING read with zero user
    // configuration, beam/warcio.py:101-109): a file the engine itself
    // indexed — by its writer, a dedicated MemberIndex pass, or a
    // first scan's `emit_member_index` side-output — goes
    // member-parallel on every later scan with NO option wiring. The
    // probe is free when the input was a directory/glob (the sidecar
    // rode the same listing) and one BATCHED parent-dir listing per
    // distinct directory otherwise (a 100k-entry explicit file list
    // probes its handful of parent dirs, not 100k sequential
    // getFileStatus RPCs) — files at or under max_partition_bytes
    // never probe (they plan one partition either way).
    //
    // Plan-time cost is O(files + partitions), NEVER O(members): the
    // sidecar is not read here. Partitions carry a BYTE SLICE of the
    // sidecar (IdxSlice) and executors parse their own slice — at
    // 100 TB / ~10^10 members the old materialize-and-sort-on-driver
    // plan was tens of GB of heap. Stale or corrupt sidecars degrade,
    // never lose data silently: offsets past EOF are dropped by the
    // executor-side parse, a garbage sidecar deterministically falls
    // back to "slice 0 scans the whole file, other slices emit
    // nothing", and a mid-member offset fails the member decode into
    // an error row + resume at the next indexed member
    // (sequentialMemberIterator's damage contract, spec-pinned).
    val autoIdx = options.getBoolean("auto_member_index", true)
    val listedSidecars: Map[String, FileStatus] =
      if (!autoIdx) Map.empty
      else files.filter(_.getPath.getName.endsWith(".idx"))
        .map(st => st.getPath.toString -> st).toMap
    // batched probe: candidates = splittable data files not covered by
    // the listing and not explicitly indexed; one listStatus per parent
    // directory, parents probed concurrently (driver-side RPC fan-out)
    val probeCandidates = files.filter { st =>
      val name = st.getPath.getName
      autoIdx && WarcInput.isDataFile(name) && st.getLen > maxPart &&
        !memberIndex.contains(name) && !explicitSidecars.contains(name) &&
        !listedSidecars.contains(
          new Path(st.getPath.getParent, name + ".idx").toString)
    }
    val probedSidecars: Map[String, FileStatus] =
      if (probeCandidates.isEmpty) Map.empty
      else {
        val byParent = probeCandidates.groupBy(_.getPath.getParent)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, byParent.size))
        try {
          val tasks = byParent.toSeq.map { case (parent, cands) =>
            pool.submit(new java.util.concurrent.Callable[Seq[(String, FileStatus)]] {
              override def call(): Seq[(String, FileStatus)] = {
                val fs = parent.getFileSystem(conf)
                val wanted = cands.map(_.getPath.getName + ".idx").toSet
                try fs.listStatus(parent).toSeq
                  .filter(s => s.isFile && wanted(s.getPath.getName))
                  .map(s => s.getPath.toString -> s)
                catch { case _: java.io.IOException =>
                  // unlistable parent (permissions, non-listing FS):
                  // fall back to per-file status probes for its files
                  cands.flatMap { c =>
                    val ip = new Path(parent, c.getPath.getName + ".idx")
                    try {
                      val s = fs.getFileStatus(ip)
                      if (s.isFile) Some(ip.toString -> s) else None
                    } catch { case _: java.io.FileNotFoundException => None }
                  }
                }
              }
            })
          }
          tasks.flatMap(_.get()).toMap
        } finally pool.shutdown()
      }
    def autoSidecar(st: FileStatus): Option[FileStatus] = {
      val idxPath =
        new Path(st.getPath.getParent, st.getPath.getName + ".idx").toString
      listedSidecars.get(idxPath).orElse(probedSidecars.get(idxPath))
    }

    val perFile = files.filter(st => WarcInput.isDataFile(st.getPath.getName)).flatMap { st =>
      val p = st.getPath.toString
      val len = st.getLen
      val indexed = memberIndex.get(st.getPath.getName)
      val sidecar = (
        if (len <= maxPart) None
        else explicitSidecars.get(st.getPath.getName)
          .orElse(if (indexed.isDefined || !autoIdx) None else autoSidecar(st))
      ).filter(_.getLen > 0)
      if (sidecar.isDefined) {
        // member-parallel via sidecar byte slices: cut the DATA file
        // into ~maxPart spans by cutting its sidecar into equal byte
        // chunks (members ≈ uniform compressed size, so equal index
        // bytes ≈ equal compressed data; exact balance is AQE's job).
        // Executors parse their own chunk; plan time is O(partitions).
        val idxSt = sidecar.get
        val n = math.max(1L, (len + maxPart - 1) / maxPart)
        val chunk = math.max(1L, (idxSt.getLen + n - 1) / n)
        // the TAIL slice is open-ended (byteEnd = MaxValue), not pinned
        // at the plan-time sidecar length: a sidecar that grew between
        // plan and execution (concurrent indexer append) would otherwise
        // leave the appended lines owned by no slice, and the tail's
        // bound search would truncate its decode at the first appended
        // offset — silent member loss. Open-ended, the tail owns
        // everything to the sidecar's CURRENT end and decodes to file
        // EOF, covering the whole archive exactly as the plan assumed.
        (0L until idxSt.getLen by chunk).map(s =>
          WarcInputPartition(p, 0L, Long.MaxValue, len, Nil,
            Some(IdxSlice(idxSt.getPath.toString, s,
              if (s + chunk >= idxSt.getLen) Long.MaxValue
              else s + chunk,
              planLen = idxSt.getLen))))
      } else if (indexed.isDefined && indexed.get.nonEmpty && len > maxPart) {
        // chunk member offsets into ~maxPart compressed-byte slices;
        // anchor at the file head (a foreign CDXJ's first indexed
        // capture may start past offset 0 — earlier records must
        // still be scanned) and drop offsets past EOF (stale index).
        // Array-indexed: a Seq-positional walk here was O(n²) in the
        // member count and took MINUTES of driver time to plan a
        // single 160k-member archive.
        val offs0 = indexed.get.filter(o => o >= 0 && o < len)
        val offs = (if (offs0.headOption.contains(0L)) offs0 else 0L +: offs0).toArray
        def slice(from: Int, until: Int): Seq[Long] =
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            java.util.Arrays.copyOfRange(offs, from, until))
        val parts = Vector.newBuilder[WarcInputPartition]
        var groupStart = 0
        var i = 0
        while (i < offs.length) {
          val memberEnd = if (i + 1 < offs.length) offs(i + 1) else len
          if (memberEnd - offs(groupStart) > maxPart && i > groupStart) {
            parts += WarcInputPartition(p, offs(groupStart), offs(i), len,
              slice(groupStart, i))
            groupStart = i
          }
          i += 1
        }
        parts += WarcInputPartition(p, offs(groupStart), len, len,
          slice(groupStart, offs.length))
        parts.result()
      } else if (split && len > maxPart && WarcInput.looksUncompressed(st.getPath.getName)) {
        (0L until len by maxPart).map(s =>
          WarcInputPartition(p, s, math.min(s + maxPart, len), len))
      } else Seq(WarcInputPartition(p, 0L, Long.MaxValue, len))
    }
    val (whole, sliced) = perFile.partition(p =>
      p.start == 0L && p.end == Long.MaxValue && p.memberOffsets.isEmpty && p.idx.isEmpty)
    (sliced ++ pack(whole, maxPart, packing)).toArray
  }

  /** Whole-file partitions packed into slot-sized bins — Spark's own
    * file-source rule (`FilePartition.maxSplitBytes` + next-fit
    * decreasing), so a scan of many small archives runs about one task
    * per slot instead of one per archive: fewer task launches, reader
    * and codec buffers, and shuffle files (map tasks × reduce
    * partitions). A file weighs its decoded-size estimate plus
    * `openCost`; the bin size is
    * `min(max_partition_bytes, max(openCost, totalWeight / minPartitionNum))`.
    * Files go in by descending weight, ties by path, so a plan is
    * deterministic. A bin of one file stays a plain `WarcInputPartition`.
    */
  private[sources] def pack(whole: Seq[WarcInputPartition], maxPart: Long,
      packing: Packing): Seq[InputPartition] = {
    val weighted = whole.map(p => p -> WarcInput.decodedBytes(p.path, p.fileSize))
      .sortBy { case (p, w) => (-w, p.path) }
    val total = weighted.map(_._2 + packing.openCost).sum
    val maxSplit = math.min(maxPart,
      math.max(packing.openCost, total / math.max(1, packing.minPartitionNum)))
    val bins = Vector.newBuilder[InputPartition]
    var bin = Vector.empty[WarcInputPartition]
    var binBytes = 0L
    def closeBin(): Unit = {
      if (bin.size == 1) bins += bin.head
      else if (bin.nonEmpty) bins += WarcFilesPartition(bin)
      bin = Vector.empty
      binBytes = 0L
    }
    weighted.foreach { case (p, w) =>
      if (binBytes + w > maxSplit) closeBin()
      bin :+= p
      binBytes += w + packing.openCost
    }
    closeBin()
    bins.result()
  }
}


class WarcReaderFactory(
    parseOpts: WarcParseOptions,
    required: StructType,
    fsProps: Map[String, String],
    streamRetries: Int = 0,
    emitIdxDir: Option[String] = None,
    asyncDecode: Boolean = false) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case b: WarcFilesPartition => new WarcFilesReader(b.files, fileReader)
      case p: WarcInputPartition => fileReader(p)
    }

  private def fileReader(p: WarcInputPartition): WarcPartitionReader =
    new WarcPartitionReader(p, parseOpts, required, WarcInput.cachedConf(fsProps),
      streamRetries, emitIdxDir, asyncDecode)
}

/** Reads a packed bin: the files' own readers run one after the other,
  * each closed (committing its member-index sidecar after a clean EOF)
  * before the next opens; task metrics are the sum over the files. An
  * early close (LIMIT, kill) closes the live file's reader only — files
  * never reached are never opened.
  */
class WarcFilesReader(files: Seq[WarcInputPartition],
    open: WarcInputPartition => WarcPartitionReader)
    extends PartitionReader[InternalRow] {
  private var nextFile = 0
  private var cur: WarcPartitionReader = _
  // metric values of the files already closed, in WarcScanMetrics.Names order
  private val closedTotals = new Array[Long](WarcScanMetrics.Names.length)

  private def addInto(sums: Array[Long], r: WarcPartitionReader): Unit = {
    val v = r.metricValues
    v.indices.foreach(i => sums(i) += v(i))
  }

  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      if (cur != null) {
        val done = cur
        cur = null
        addInto(closedTotals, done)
        done.close()
      }
      if (nextFile >= files.length) return false
      cur = open(files(nextFile))
      nextFile += 1
    }
    true
  }

  override def get(): InternalRow = cur.get()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val sums = closedTotals.clone()
    if (cur != null) addInto(sums, cur)
    WarcScanMetrics.tasks(sums)
  }

  override def close(): Unit =
    if (cur != null) { val r = cur; cur = null; r.close() }
}

object WarcScanMetrics {
  // Each metric is a concrete class with a 0-arg constructor:
  // SQLAppStatusListener re-instantiates the metric class reflectively
  // to aggregate task values; a parameterized class fails that load and
  // the metric silently never aggregates (WARN per query).
  sealed abstract class Sum(n: String, d: String)
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = n
    override def description(): String = d
  }
  final class Records extends Sum("warcRecords", "WARC records emitted")
  final class ErrorRows extends Sum("warcErrorRows", "WARC records with error set")
  final class ContentBytes extends Sum("warcContentBytes", "WARC content bytes materialized")
  final class Files extends Sum("warcFiles", "WARC archives opened")
  final class RecordsWritten extends Sum("warcRecordsWritten", "WARC records written")
  case class Task(n: String, v: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  /** The scan metrics a reader reports, in the order of its values. */
  val Names: Array[String] = Array("warcRecords", "warcErrorRows", "warcContentBytes", "warcFiles")
  def tasks(values: Array[Long]): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Names.indices.map(i => Task(Names(i), values(i))).toArray
}

object WarcPartitionReader {
  private[sources] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[WarcPartitionReader])
}

class WarcPartitionReader(
    part: WarcInputPartition,
    parseOpts: WarcParseOptions,
    required: StructType,
    conf: Configuration,
    streamRetries: Int = 0,
    emitIdxDir: Option[String] = None,
    asyncDecode: Boolean = false) extends PartitionReader[InternalRow] {

  // scan metrics (see WarcScan.supportedCustomMetrics)
  private var mRecords = 0L
  private var mErrors = 0L
  private var mBytes = 0L
  /** Values of `WarcScanMetrics.Names`; a file reader opens one archive. */
  def metricValues: Array[Long] = Array(mRecords, mErrors, mBytes, 1L)
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    WarcScanMetrics.tasks(metricValues)

  private val hPath = new Path(part.path)
  private val fs: FileSystem = hPath.getFileSystem(conf)
  // opened on first use: the stream_retries path opens its own streams
  // through the factory and must not burn an attempt on an unused handle
  private var rawInRef: org.apache.hadoop.fs.FSDataInputStream = _
  private def rawIn: org.apache.hadoop.fs.FSDataInputStream = {
    if (rawInRef == null) rawInRef = fs.open(hPath)
    rawInRef
  }
  /** Drop the (possibly dead) file handle; the next `rawIn` use opens a
    * fresh one through the FileSystem — a new connection on an object
    * store. Used by the member-scan retry below.
    */
  private def resetRawIn(): Unit = {
    if (rawInRef != null) {
      try rawInRef.close() catch { case _: Exception => }
      rawInRef = null
    }
  }
  // current attempt's stream on the stream_retries path (superseded
  // attempts are closed by the factory; the live one by close())
  private var retryStream: org.apache.hadoop.fs.FSDataInputStream = _
  // live async pipeline (async_decode option): closed explicitly in
  // close() so an early-terminated task (LIMIT, kill) interrupts and
  // joins the producer thread instead of leaking it blocked on put()
  private var asyncStream: graft.core.AsyncChunkInputStream = _

  // the live byte reader, observed after parser exhaustion: a
  // decompression stream that DIES (rather than throwing upward) is
  // reported by the reader as EOF-with-streamError — without checking
  // it, corruption at a record boundary would truncate the scan
  // silently (no partial record, so no truncated-record row either)
  private var activeReader: WarcByteReader = _

  // One-pass member-index side-output (`emit_member_index` option — the
  // Spark analog of the reference's record-addressable gzip,
  // fastwarc/stream_io.pyx:561-591): a whole-file scan of a compressed
  // FOREIGN archive collects every member's compressed start offset as
  // the decoder crosses it (zero extra reads, zero extra inflate work)
  // and, iff the file scanned cleanly to EOF, commits the same `.idx`
  // sidecar the WARC sink emits — so a 100 TB first scan leaves
  // member-parallel random access behind it for every scan after.
  // Whole-file plain scans only: range reads and member-indexed scans
  // see a slice. The retry path (`stream_retries` > 0) emits too —
  // precisely the flaky-object-store scans that most want to avoid a
  // second full pass — with two extra guards: offsets are deduped and
  // sorted at commit (a reopen re-decodes from 0 to the resume point,
  // re-firing earlier members; a replayed record makes them
  // non-monotone), and a retries-exhausted terminal error row
  // suppresses the commit (the scan did not cover the whole file).
  private val emitOffsets: scala.collection.mutable.ArrayBuffer[Long] =
    if (emitIdxDir.isDefined && part.start == 0 && part.memberOffsets.isEmpty &&
        part.idx.isEmpty)
      new scala.collection.mutable.ArrayBuffer[Long]()
    else null
  private var exhaustedClean = false

  // head dictionary for member-indexed `.warc.zst` partitions.
  // DECLARED BEFORE `parser`: memberIterator() assigns it during
  // parser's initializer, and Scala runs field initializers in
  // declaration order — declared after, its own `= null` would
  // overwrite the assignment once parser finished constructing.
  private var zstdDict: Array[Byte] = null

  private val parser: Iterator[WarcRecord] =
    if (part.memberOffsets.nonEmpty) memberIterator(part.memberOffsets.toArray, part.end)
    else if (part.idx.isDefined) idxSliceIterator(part.idx.get)
    else if (streamRetries > 0 && part.start == 0) {
      // stream_retries option: resume-on-failure through the FileSystem
      // layer (the reference's warc_retry over a flaky remote object
      // read, itertools.pyx:66-155). Each attempt re-opens the path via
      // the FS — the factory IS fs.open, so any Hadoop scheme (s3a,
      // testfs, ...) composes. Magic-byte codec sniffing only (the
      // extension-routed brotli fixture path has no remote use case);
      // whole-chain partitions only — range reads of raw files already
      // resync per record and re-planning them on retry is the task
      // retry's job.
      graft.core.WarcRetry.iterator(() => {
          if (retryStream != null) { try retryStream.close() catch { case _: Exception => } }
          retryStream = fs.open(hPath)
          retryStream
        }, part.path, parseOpts, maxRetries = streamRetries,
        memberListener =
          if (emitOffsets != null) (o: Long) => emitOffsets += o else null)
        .takeWhile(_.offset < part.end)
    } else {
      val isRangeRead = part.start > 0
      if (isRangeRead) rawIn.seek(part.start)
      val (stream, codec) = WarcCodecs.openWithName(rawIn, part.path,
        if (emitOffsets != null) (o: Long) => emitOffsets += o else null)
      // A mid-file range of a file that sniffs as compressed yields no
      // rows: the partition at start=0 reads the whole member chain
      // instead. Range reads of raw files resync for free: the parser's
      // version-line search skips mid-record bytes until the next
      // "WARC/" line (warc.pyx:1184-1207 recovery).
      if (isRangeRead && codec != WarcCodecs.Raw) Iterator.empty
      else {
        // opt-in decode/parse pipeline for latency-bound upstreams
        // (http(s)/object-store forward streams); measured a LOSS for
        // local CPU-bound decode, so never a default — see
        // core/AsyncChunkInputStream
        val maybeAsync =
          if (asyncDecode && !isRangeRead) {
            asyncStream = new graft.core.AsyncChunkInputStream(stream)
            asyncStream
          } else stream
        activeReader = new WarcByteReader(maybeAsync, baseOffset = part.start)
        new WarcParser(activeReader, part.path, parseOpts)
          // split ownership: a record belongs to the split containing its start
          .takeWhile(_.offset < part.end)
      }
    }

  /** Member-aligned scan: seek each compressed member offset, decode that
    * member alone (bounded to the next boundary), and rebase record
    * offsets to compressed member coordinates — the reference's
    * stream_pos semantics for compressed inputs, seekable by
    * WarcPointLookup.
    *
    * A SPARSE index (a foreign CDXJ listing only some captures) still
    * scans completely: the multi-member gzip/LZ4 reader decodes straight
    * through unindexed member boundaries inside each bounded slice. Only
    * the `offset` column of those in-between records is then
    * slice-relative (memberStart + decompressed offset) rather than a
    * true compressed member address — totals and contents are unaffected;
    * point-lookup addresses are exact only for indexed members.
    */
  /** Resolve an IdxSlice partition: parse this task's byte slice of the
    * sidecar (one bounded sidecar read — the Beam-tracker analog of
    * never materializing split points on the driver), derive the member
    * offsets it owns and the decode bound chaining it to the next slice,
    * then run the ordinary member-aligned scan. Deterministic anchor and
    * degrade rules (content-based, so every executor attempt agrees):
    *  - the slice at byte 0 anchors the file head (prepends offset 0 —
    *    a sparse index's records before the first indexed member must
    *    still be scanned) and, when the whole sidecar parses to nothing
    *    (garbage), scans the entire file alone;
    *  - a non-zero slice owning no valid lines emits nothing (its range
    *    is covered by the previous slice's bound);
    *  - stale offsets at/past EOF are dropped; a bound past EOF clamps.
    * Transient sidecar READ failures throw → Spark task retry (the
    * sidecar existed at plan time; per-partition silent fallback could
    * duplicate rows across slices and is exactly what the deterministic
    * rules above exist to avoid).
    */
  private def idxSliceIterator(idx: IdxSlice): Iterator[WarcRecord] =
    (try WarcInput.probeIdxPrefix(idx.idxPath, hPath.getName, conf)
     catch { case e: java.io.IOException =>
       // unreadable ≠ missing: a vanished file degrades (IdxMissing,
       // deterministic for every slice), but a stale-checksum or
       // permission error can differ per slice — fail loudly with the
       // operator's way out, same contract as the slice read below
       throw new java.io.IOException(
         s"member-index sidecar ${idx.idxPath} is unreadable; delete the " +
         "sidecar (or rebuild it with the index CLI / emit_member_index) " +
         "or set auto_member_index=false to scan without it: " +
         e.getMessage, e)
     }) match {
      case WarcInput.IdxMissing =>
        // the sidecar vanished between plan and execution (deleted, or
        // rewritten out-of-band): deterministic whole-file degrade — the
        // head slice scans the entire file alone, every other slice
        // emits nothing. Every slice sees the same not-found, so the
        // split of work is consistent; the convenience feature never
        // fails the query. (A sidecar deleted DURING the scan — after
        // some slices already read it — is out-of-band mutation of a
        // planned input, the same undefined regime as deleting a parquet
        // file mid-query; post-probe read errors stay loud below.)
        WarcPartitionReader.log.warn(
          s"member-index sidecar ${idx.idxPath} disappeared after planning; " +
          s"scanning ${part.path} as a single whole-file partition")
        if (idx.byteStart == 0) memberIterator(Array(0L), part.fileSize)
        else Iterator.empty
      case WarcInput.IdxDisordered =>
        // a URL/SURT-sorted sidecar (pywb convention): the offset-order
        // fast path cannot be used, but the query must not fail over an
        // auto-discovered convenience — degrade to the read-and-sort
        // path, executor-side and still parallel (below)
        WarcPartitionReader.log.warn(
          s"member-index sidecar ${idx.idxPath} is not offset-sorted " +
          "(URL-sorted CDXJ?); degrading to the whole-sidecar sorted " +
          "path — rebuild with the index CLI --members for bounded " +
          "sidecar reads")
        disorderedIdxIterator(idx)
      case WarcInput.IdxOk => idxSliceFastIterator(idx)
    }

  /** Deterministic degrade for a non-offset-sorted sidecar, preserving
    * member parallelism: EVERY slice of the file reads the whole sidecar
    * (same bytes → same parse → same sorted global offset list on every
    * executor), then takes the contiguous chunk of sorted members whose
    * index-fraction matches its own byte-fraction of the sidecar. Chunk
    * boundaries are a pure function of (byteStart, byteEnd, sidecar
    * length, offset list), and adjacent slices share the boundary value
    * exactly (slice i's byteEnd IS slice i+1's byteStart), so the chunks
    * tile [0, m) with no overlap and no gap — each member decoded by
    * exactly one slice. Costs one full sidecar read per task (the price
    * of disorder; the WARN above names the fix).
    */
  private def disorderedIdxIterator(idx: IdxSlice): Iterator[WarcRecord] = {
    val idxHp = new Path(idx.idxPath)
    // the SNAPSHOT every slice parses: the plan-time sidecar length when
    // the planner recorded one. Bytes appended after planning are
    // invisible to every slice alike — without the pin, two slices
    // reading at different times around a concurrent append would
    // compute different member tilings (overlap or loss); with it the
    // degrade matches the pre-r16 plan-time-snapshot semantics.
    val idxLen =
      if (idx.planLen > 0) idx.planLen
      else try idxHp.getFileSystem(conf).getFileStatus(idxHp).getLen
      catch { case _: java.io.FileNotFoundException =>
        return if (idx.byteStart == 0) memberIterator(Array(0L), part.fileSize)
               else Iterator.empty
      }
    val all = {
      val in =
        try idxHp.getFileSystem(conf).open(idxHp)
        catch { case _: java.io.FileNotFoundException =>
          return if (idx.byteStart == 0) memberIterator(Array(0L), part.fileSize)
                 else Iterator.empty
        }
      val bounded = org.apache.commons.io.input.BoundedInputStream.builder()
        .setInputStream(in).setMaxCount(idxLen).setPropagateClose(false).get()
      val lines =
        try scala.io.Source.fromInputStream(bounded, "UTF-8").getLines().toVector
        finally in.close()
      lines.flatMap(WarcInput.parseIdxLine)
        .filter(_._1 == hPath.getName).map(_._2)
        .filter(o => o >= 0 && o < part.fileSize)
        .distinct.sorted.toArray
    }
    val m = all.length
    if (m == 0 || idxLen <= 0)
      return if (idx.byteStart == 0) memberIterator(Array(0L), part.fileSize)
             else Iterator.empty
    // fraction mapping (doubles are fine: adjacent slices evaluate the
    // SAME expression on the SAME inputs at their shared boundary)
    def cut(b: Long): Int =
      math.min(m.toLong, (b.toDouble / idxLen * m).toLong).toInt
    val lo = cut(idx.byteStart)
    val hi = if (idx.byteEnd >= idxLen) m else cut(idx.byteEnd)
    if (lo >= hi) return Iterator.empty
    val chunk = java.util.Arrays.copyOfRange(all, lo, hi)
    // the chunk that owns index 0 also anchors the file head: records
    // before the first indexed member must still be scanned
    val offs = if (lo == 0 && chunk(0) != 0L) 0L +: chunk else chunk
    val end = if (hi == m) part.fileSize else all(hi)
    memberIterator(offs, end)
  }

  private def idxSliceFastIterator(idx: IdxSlice): Iterator[WarcRecord] = {
    val (owned0, bound0) =
      try WarcInput.readIdxSlice(idx, hPath.getName, conf)
      catch { case e: java.io.IOException =>
        // unreadable ≠ unparseable: garbage CONTENT degrades below
        // (deterministically, every slice agreeing), but a read error
        // (stale FS checksum after an out-of-band rewrite, permissions,
        // vanished file) can differ per slice — silent per-slice
        // fallback could double- or under-scan, so fail loudly with
        // the operator's way out
        throw new java.io.IOException(
          s"member-index sidecar ${idx.idxPath} is unreadable; delete the " +
          "sidecar (or rebuild it with the index CLI / emit_member_index) " +
          "or set auto_member_index=false to scan without it: " +
          e.getMessage, e)
      }
    val bound = math.min(bound0.getOrElse(part.fileSize), part.fileSize)
    // `o < bound` also drops a duplicate offset straddling the slice
    // boundary (CDXJ-legal: several captures per member): the NEXT slice
    // owns that member, this slice's decode range ends exactly at it —
    // without the filter the zero-byte segment would read as a spurious
    // truncated-member error row
    val owned = owned0.filter(o => o >= 0 && o < part.fileSize && o < bound)
    if (idx.byteStart == 0) {
      val offs =
        if (owned.isEmpty || owned(0) != 0L) 0L +: owned else owned
      // bound == 0 == the anchor: the first indexed member sits at the
      // file head but its line belongs to a later slice — nothing
      // precedes it, so the head slice has nothing to scan
      if (bound <= offs(0)) Iterator.empty
      else memberIterator(offs, bound)
    } else if (owned.isEmpty) Iterator.empty
    else memberIterator(owned, bound)
  }

  private def memberIterator(offs: Array[Long], end: Long): Iterator[WarcRecord] = {
    // sniff the FILE head (offset 0, not this partition's first member)
    // to pick the strategy: the codec is a file-level property, and a
    // partition whose first member happens to be the one with destroyed
    // magic bytes must still decode its healthy members — sniffing the
    // damaged member would misread the whole partition as raw garbage.
    // dict-LZ4 frames decode through commons-compress (no member
    // tracking) and keep the per-member loop; everything else takes
    // the sequential path.
    rawIn.seek(0L)
    val head = new Array[Byte](8)
    var got = 0; var r = 0
    while (got < 8 && r >= 0) { r = rawIn.read(head, got, 8 - got); if (r > 0) got += r }
    WarcCodecs.sniff(java.util.Arrays.copyOf(head, got)) match {
      case Some(WarcCodecs.Lz4) if got >= 5 && (head(4) & 0x01) != 0 =>
        perMemberIterator(offs, end)
      case Some(codec @ (WarcCodecs.Gzip | WarcCodecs.Lz4)) =>
        sequentialMemberIterator(offs, end, codec)
      case Some(WarcCodecs.Zstd) =>
        // a dict-led archive: every partition needs the HEAD
        // dictionary before seeking into the middle of the file — one
        // bounded read of the leading skippable frame (None when the
        // archive is dictionary-less)
        rawIn.seek(0L)
        zstdDict = graft.core.ZstdWarc.readDictionary(
          new java.io.FilterInputStream(rawIn) { override def close(): Unit = () }).orNull
        sequentialMemberIterator(offs, end, WarcCodecs.Zstd)
      case _ =>
        sequentialMemberIterator(offs, end, WarcCodecs.Raw)
    }
  }


  /** Member-indexed scan as ONE sequential decode of the partition's
    * contiguous compressed range: the multi-member gzip / concatenated-
    * frame LZ4 readers decode straight through member boundaries, and
    * record offsets are rebased to compressed member coordinates from
    * the decoder's (compressed, decompressed) member-start callbacks —
    * exactly the `memberStart + within-member-decompressed-offset`
    * addresses the per-member loop produced. Why not seek per member:
    * one reopen per member allocates ~200 KiB of buffers plus a native
    * Inflater (GC-bound at 32 threads — a 160k-member archive scanned
    * 3× slower than ONE thread decoding it straight through) and issues
    * one seek per member — one GET per member on an object store.
    *
    * Corruption stays member-isolated, as before: when the stream dies,
    * one error row names the dying member and the decode RESUMES with a
    * fresh stream at the next indexed member past it — healthy members
    * of a damaged archive still scan completely.
    *
    * `codec` is the PARTITION's codec from the initial sniff, and each
    * segment constructs that decoder DIRECTLY (no re-sniff): a resumed
    * segment that starts at a member whose magic bytes are destroyed
    * must error immediately and resume at the NEXT member — a re-sniff
    * would fall back to raw passthrough and silently consume every
    * later healthy member of the segment as garbage. Raw archives use
    * identity pairs: compressed and decompressed coordinates coincide,
    * so the index entries themselves are the rebase mapping.
    */
  private def sequentialMemberIterator(offs: Array[Long], end: Long,
      codec: WarcCodecs.Codec): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var segStart = 0
    private var cur: WarcParser = _
    private var segReader: WarcByteReader = _
    private var pairsC = new Array[Long](16) // absolute compressed member start
    private var pairsD = new Array[Long](16) // decompressed start within segment
    private var nPairs = 0
    private var pairPtr = 0
    private var pending: WarcRecord = _
    private var resumeAt = -2 // -2 = none, -1 = finish after pending
    private var finished = false

    private def addPair(c: Long, d: Long): Unit = {
      if (nPairs == pairsC.length) {
        pairsC = java.util.Arrays.copyOf(pairsC, nPairs * 2)
        pairsD = java.util.Arrays.copyOf(pairsD, nPairs * 2)
      }
      pairsC(nPairs) = c; pairsD(nPairs) = d; nPairs += 1
    }

    private def openSegment(i: Int): Unit = {
      segStart = i
      nPairs = 0; pairPtr = 0
      val base = offs(i)
      rawIn.seek(base)
      val bounded = org.apache.commons.io.input.BoundedInputStream.builder()
        .setInputStream(rawIn)
        .setMaxCount(end - base)
        .setPropagateClose(false)
        .get()
      val stream: java.io.InputStream = codec match {
        case WarcCodecs.Gzip =>
          // buffers internally — no extra BufferedInputStream layer
          new graft.core.GzipMemberInputStream(bounded,
            (c: Long, d: Long) => addPair(base + c, d))
        case WarcCodecs.Lz4 =>
          new graft.core.Lz4FrameInputStream(
            new java.io.BufferedInputStream(bounded, 64 * 1024),
            (c: Long, d: Long) => addPair(base + c, d))
        case WarcCodecs.Zstd =>
          new graft.core.ZstdFrameInputStream(
            new java.io.BufferedInputStream(bounded, 64 * 1024),
            (c: Long, d: Long) => addPair(base + c, d),
            presetDict = zstdDict)
        case _ =>
          // raw: every remaining index entry maps 1:1
          var j = i
          while (j < offs.length) { addPair(offs(j), offs(j) - base); j += 1 }
          new java.io.BufferedInputStream(bounded, 64 * 1024)
      }
      segReader = new WarcByteReader(stream)
      activeReader = segReader
      cur = new WarcParser(segReader, part.path, parseOpts)
    }

    /** Monotone decompressed→compressed rebase: records arrive in
      * increasing offset within a segment, so one forward pointer walk
      * over the member pairs covers them all.
      */
    private def rebase(d: Long): Long = {
      while (pairPtr + 1 < nPairs && pairsD(pairPtr + 1) <= d) pairPtr += 1
      if (nPairs == 0) offs(segStart) + d // tracking-less codec fallback
      else pairsC(pairPtr) + (d - pairsD(pairPtr))
    }

    // transient-vs-damage triage (r16): a dying stream is retried with a
    // FRESH file handle (new connection on an object store) from the
    // failing member before the damage contract kicks in — a dropped
    // connection costs a bounded re-decode instead of a flagged lost
    // member, while persistent corruption exhausts the retries and
    // degrades exactly as before (error row + resume past the member).
    // Replayed records on a retried segment are skipped by compressed
    // offset (monotone within a partition), so retries can never
    // duplicate rows. The floor of 2 is deliberate always-on transient
    // triage (bounded: ≤2 extra segment decodes per partition);
    // `stream_retries` raises it for genuinely flaky stores — one knob
    // for both the whole-stream and member-scan retry classes.
    private var retriesLeft = math.max(2, streamRetries)
    private var lastEmitted = Long.MinValue

    override def hasNext: Boolean = {
      if (pending != null) return true
      while (!finished) {
        if (cur == null) openSegment(0)
        if (cur.hasNext) {
          val rec = cur.next()
          val rebased = rebase(rec.offset)
          if (rec.error.isDefined && segReader.streamError.isDefined &&
              retriesLeft > 0) {
            // a record-level error row parsed AT the death point is an
            // artifact of the dropped connection (truncated mid-payload),
            // not of the archive: suppress it and let the retry below
            // re-produce the record cleanly (lastEmitted not advanced,
            // so the replay emits)
          } else if (rebased > lastEmitted) {
            lastEmitted = rebased
            pending = rec.copy(offset = rebased)
            return true
          } // else: replay from a retried segment — skip
        } else segReader.streamError match {
          case Some(err) =>
            val errAt = if (nPairs > 0) pairsC(nPairs - 1) else offs(segStart)
            if (retriesLeft > 0) {
              retriesLeft -= 1
              var j0 = segStart
              while (j0 + 1 < offs.length && offs(j0 + 1) <= errAt) j0 += 1
              resetRawIn()
              openSegment(j0)
            } else {
              pending = streamErrorRecord(s"stream error in member at $errAt: $err")
              var j = segStart + 1
              while (j < offs.length && offs(j) <= errAt) j += 1
              resumeAt = if (j < offs.length) j else -1
              return true
            }
          case None =>
            finished = true
        }
      }
      false
    }

    override def next(): WarcRecord = {
      if (pending == null && !hasNext) throw new NoSuchElementException
      val out = pending
      pending = null
      if (resumeAt != -2) {
        if (resumeAt >= 0) openSegment(resumeAt) else finished = true
        resumeAt = -2
      }
      out
    }
  }

  /** Per-member seek+reopen loop — kept only for codecs the tracking
    * decoders cannot decode (LZ4 frames declaring an external
    * dictionary, routed through commons-compress). Strictly sequential
    * member consumption, O(one record) memory: the flatMap body (and
    * its seek) runs only once the PREVIOUS member's iterator is
    * exhausted — Iterator.flatMap never interleaves inner iterators —
    * so no seek can invalidate a stream still being read.
    */
  private def perMemberIterator(offs: Array[Long], end: Long): Iterator[WarcRecord] = {
    val bounds = offs :+ end
    offs.indices.iterator.flatMap { i =>
      val memberStart = bounds(i)
      val memberEnd = bounds(i + 1)
      rawIn.seek(memberStart)
      val bounded = org.apache.commons.io.input.BoundedInputStream.builder()
        .setInputStream(rawIn)
        .setMaxCount(memberEnd - memberStart)
        .setPropagateClose(false)
        .get()
      val (stream, _) = WarcCodecs.open(bounded)
      val reader = new WarcByteReader(stream)
      activeReader = reader
      // per-member stream-death check: `reader` is rebound for the NEXT
      // member as soon as this one's iterator exhausts, so the error row
      // for a decompressor that died inside THIS member must be appended
      // here (lazily — Iterator.++ consults it only after exhaustion),
      // not at end-of-partition where only the last member is visible
      new WarcParser(reader, part.path, parseOpts)
        .map(r => r.copy(offset = memberStart + r.offset)) ++
        new Iterator[WarcRecord] {
          private var emitted = false
          override def hasNext: Boolean = !emitted && reader.streamError.isDefined
          override def next(): WarcRecord = {
            emitted = true
            streamErrorRecord(
              s"stream error in member at $memberStart: ${reader.streamError.get}")
          }
        }
    }
  }

  private def streamErrorRecord(msg: String): WarcRecord =
    WarcRecord(part.path, -1L, 0L, None, "unknown",
      graft.core.RecordType.mask("unknown"), None, -1L,
      graft.core.HeaderMap.empty, Array.emptyByteArray, None, Some(msg))

  private var current: WarcRecord = _
  private var streamFailed = false

  /** Decompression-stream corruption (a bad gzip deflate block, an LZ4
    * checksum mismatch) raises IOException from INSIDE hasNext/next —
    * below the parser's per-record error handling. The exc_loop doctrine
    * (rows with `error`, never task failures) applies to the stream
    * layer too: surface one terminal error row for the partition and end
    * it. Resuming past stream corruption is not possible for
    * non-seekable codec chains (unlike record-level resync, which w25
    * covers) — the member-index path re-scans healthy members of a
    * damaged archive independently.
    */
  private def count(r: WarcRecord): Boolean = {
    mRecords += 1
    if (r.error.isDefined) mErrors += 1
    // a stream-level error row (offset −1: the retry iterator's
    // retries-exhausted terminal, or a member-scan stream death) means
    // the scan did NOT cover the whole file — the member-index
    // side-output must not leave a plausible-looking sidecar
    if (r != null && r.error.isDefined && r.offset < 0) sawStreamErrorRow = true
    if (r.content != null) mBytes += r.content.length
    true
  }
  private var sawStreamErrorRow = false

  override def next(): Boolean = {
    if (streamFailed) { current = null; return false }
    try {
      if (parser.hasNext) { current = parser.next(); count(current) }
      else {
        // exhaustion may be REAL end-of-archive or a decompressor that
        // died at a record boundary (the reader converts mid-read
        // IOExceptions to EOF + streamError); only the reader knows.
        // Member-indexed scans report per member (each member's iterator
        // appends its own error row above), so skip the partition-level
        // check there — it would double-report the LAST member's error
        val died =
          if (part.memberOffsets.nonEmpty || part.idx.isDefined) None
          else Option(activeReader).flatMap(_.streamError)
        if (died.isDefined) { emitStreamError(s"stream error: ${died.get}"); count(current) }
        else { exhaustedClean = true; current = null; false }
      }
    } catch {
      case e: java.io.IOException =>
        emitStreamError(s"stream error: ${e.getMessage}")
        count(current)
    }
  }

  private def emitStreamError(msg: String): Unit = {
    streamFailed = true
    current = streamErrorRecord(msg)
  }

  private val rowEncoder = new WarcRowEncoder(required, part.fileSize)

  override def get(): InternalRow = rowEncoder.encode(current)

  override def close(): Unit = {
    // before the sidecar commit below: join(producer) gives the final
    // member-offset appends a happens-before edge to this thread
    if (asyncStream != null) { try asyncStream.close() catch { case _: Exception => } }
    if (rawInRef != null) rawInRef.close()
    if (retryStream != null) { try retryStream.close() catch { case _: Exception => } }
    // commit the member-index side-output only for a file that scanned
    // cleanly to EOF (a truncated/corrupt archive must not leave a
    // plausible-looking sidecar; an early-terminated scan — e.g. a
    // LIMIT — never sets exhaustedClean). Raw files report no members.
    if (emitOffsets != null && exhaustedClean && !sawStreamErrorRow &&
        emitOffsets.nonEmpty)
      writeMemberIndexSidecar()
  }

  /** Tmp+rename commit of the JSON-lines `.idx` sidecar (the exact format
    * the `member_index` scan option and the WARC sink share). A write
    * failure propagates — the task retries, and the retry re-emits.
    * Losing a rename race to a concurrent emitter is fine: the content
    * is identical by construction.
    */
  private def writeMemberIndexSidecar(): Unit = {
    val name = hPath.getName
    val dir = new Path(emitIdxDir.get)
    val outFs = dir.getFileSystem(conf)
    outFs.mkdirs(dir)
    val finalP = new Path(dir, name + ".idx")
    val tmpP = new Path(dir, "." + name + s".idx-${java.util.UUID.randomUUID()}.tmp")
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(outFs.create(tmpP, true),
        java.nio.charset.StandardCharsets.UTF_8)))
    // distinct+sorted: the retry path replays members across attempts
    // (identical offsets, possibly out of order after a resume); the
    // committed sidecar must be byte-for-byte the no-failure sidecar
    try emitOffsets.distinct.sorted
      .foreach(o => w.println(s"""{"filename":"$name","offset":$o}"""))
    finally w.close()
    outFs.delete(finalP, false)
    if (!outFs.rename(tmpP, finalP)) outFs.delete(tmpP, false)
  }
}

/** WarcRecord -> InternalRow projection for an arbitrary pruned schema.
  * Column dispatch is resolved ONCE per reader into an extractor array
  * (the per-record per-column string match showed up at 80k-record scan
  * scale), and low-cardinality strings (record type, version, the
  * per-partition-constant filename) are interned as UTF8Strings.
  */
final class WarcRowEncoder(schema: StructType, fileSize: Long = -1L) {
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def headersData(h: HeaderMap): GenericArrayData =
    new GenericArrayData(h.entries.map { case (k, v) =>
      new GenericInternalRow(Array[Any](utf8(k), utf8(v)))
    }.toArray[Any])
  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private val interned = new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private def intern(s: String): UTF8String = {
    var v = interned.get(s)
    if (v == null) {
      v = UTF8String.fromString(s)
      if (interned.size < 64) interned.put(s, v)
    }
    v
  }

  private val extractors: Array[WarcRecord => Any] = schema.fields.map { f =>
    f.name match {
      case "filename" => r => intern(r.filename)
      case "offset" => r => r.offset
      case "length" => r => r.length
      case "record_id" => r => r.recordId.map(utf8).orNull
      case "record_type" => r => intern(r.recordType)
      case "record_type_mask" => r => r.recordTypeMask
      case "record_date" => r => r.recordDate.map(micros).map(Long.box).orNull
      case "content_length" => r => r.contentLength
      case "headers" => r => headersData(r.headers)
      case "is_http" => r => WarcParser.isHttpRecord(r.headers)
      case "http_status" => r => r.http.flatMap(_.status).map(Int.box).orNull
      case "http_content_type" => r => r.http.flatMap(_.contentType).map(utf8).orNull
      case "http_charset" => r => r.http.flatMap(_.charset).map(utf8).orNull
      case "http_date" => r => r.http.flatMap(_.headers.get("Date"))
        .flatMap(WarcParser.parseHttpDate).map(micros).map(Long.box).orNull
      // parsed Last-Modified (warc.pyx:677-691): same RFC-2822 parse,
      // null when absent or unparseable
      case "http_last_modified" => r => r.http.flatMap(_.headers.get("Last-Modified"))
        .flatMap(WarcParser.parseHttpDate).map(micros).map(Long.box).orNull
      case "http_headers" => r => r.http.map(m => headersData(m.headers)).orNull
      case "content" => r => r.content
      case "http_body" => r => r.http.map(_.body).orNull
      case "block_digest_ok" => r => r.blockDigestOk.map(Boolean.box).orNull
      case "payload_digest_ok" => r => r.payloadDigestOk.map(Boolean.box).orNull
      case "error" => r => r.error.map(utf8).orNull
      case "warc_version" => r => intern(r.version)
      case "file_size" => _ => fileSize
      case other => throw new IllegalArgumentException(s"unknown warc column: $other")
    }
  }

  def encode(r: WarcRecord): InternalRow = {
    val vals = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) {
      vals(i) = extractors(i)(r)
      i += 1
    }
    new GenericInternalRow(vals)
  }
}

// — write path (Dataset[warc rows].write.format("warc").mode("append")) —

/** One output file per task, ONE compression member per record (gzip/lz4)
  * so the result is record-addressable — the reference writer's layout
  * (warc.pyx:900-903). Tasks write to a temp file and rename on commit
  * (rename-based task commit; idempotent under task retry because the
  * final name is deterministic per partition).
  */
class WarcWriteBuilder(
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  // mode("overwrite") REPLACES the directory's archives instead of
  // accumulating next to them — the idempotence primitive the
  // exactly-once micro-batch sink builds on (replayed batch = same
  // target dir = same final content)
  private var truncateFirst = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      // UI observability, symmetric with the scan's metrics: records
      // landed per write (null-content drops excluded by construction)
      override def supportedCustomMetrics()
          : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
        Array(new WarcScanMetrics.RecordsWritten)
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
        val path = WarcInput.normalizeScheme(
          Option(options.get("path"))
            .orElse(WarcInput.paths(options).headOption)
            .getOrElse(throw new IllegalArgumentException("warc write requires a path")),
          org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
        val codec = Option(options.get("compression")).getOrElse("gzip")
        val checksum = options.getBoolean("checksum", false)
        val memberIndex = options.getBoolean("member_index", false)
        val dropNullContent = options.getBoolean("drop_null_content", false)
        // zstd_dict=<path>: a pre-trained dictionary (the CLI's
        // `recompress --zstd-dict` trains one; or zstd's own `--train`)
        // applied to every record frame of every output file — train
        // once, write the whole corpus against it. Read ONCE on the
        // driver, shipped to tasks as bytes.
        val zstdDict: Array[Byte] = Option(options.get("zstd_dict")).map { dp =>
          val p = new Path(dp)
          val fs = p.getFileSystem(
            org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
          val in = fs.open(p)
          try {
            val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
            require(bytes.length <= graft.core.ZstdWarc.MaxDictBytes,
              s"zstd_dict too large: ${bytes.length} bytes")
            bytes
          } finally in.close()
        }.orNull
        new WarcBatchWrite(path, codec, checksum, memberIndex, dropNullContent,
          info.schema(), info.queryId(), truncateFirst, zstdDict)
      }
    }
}

case class WarcCommitMessage(file: String, records: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class WarcBatchWrite(path: String, codec: String, checksum: Boolean,
    memberIndex: Boolean, dropNullContent: Boolean, schema: StructType,
    queryId: String, truncateFirst: Boolean = false,
    zstdDict: Array[Byte] = null)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val fsProps = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, _) => k.startsWith("fs.") || k.startsWith("io.") }.toMap
    // ensure the output directory exists before tasks run
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // overwrite semantics: clear the previous contents (data files AND
    // sidecars) so a re-run — or a replayed micro-batch targeting its
    // batch-id directory — replaces rather than accumulates
    if (truncateFirst && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new WarcWriterFactory(path, codec, checksum, memberIndex, dropNullContent,
      schema, fsProps, queryId, zstdDict)
  }
  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
}

class WarcWriterFactory(path: String, codec: String, checksum: Boolean,
    memberIndex: Boolean, dropNullContent: Boolean, schema: StructType,
    fsProps: Map[String, String], queryId: String,
    zstdDict: Array[Byte] = null)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new WarcDataWriter(path, codec, checksum, memberIndex, dropNullContent,
      schema, fsProps, partitionId, taskId, queryId, zstdDict)
}

class WarcDataWriter(dir: String, codecName: String, checksum: Boolean,
    memberIndex: Boolean, dropNullContent: Boolean, schema: StructType,
    fsProps: Map[String, String], partitionId: Int, taskId: Long,
    queryId: String, zstdDict: Array[Byte] = null)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val codec = WarcWriter.codecFor(codecName)
  private val ext = codec match {
    case WarcWriter.Gzip => ".warc.gz"
    case WarcWriter.Lz4 => ".warc.lz4"
    case WarcWriter.Zstd => ".warc.zst"
    case _ => ".warc"
  }
  private val conf = {
    val c = new Configuration()
    fsProps.foreach { case (k, v) => c.set(k, v) }
    c
  }
  // the per-write queryId keeps successive writes into the same directory
  // from colliding (append accumulates instead of silently overwriting);
  // the name stays deterministic per (write, partition) so task RETRIES of
  // the same write are still idempotent under the rename commit
  private val finalPath = new Path(dir, f"part-$queryId-$partitionId%05d$ext")
  private val tmpPath = new Path(dir, f".part-$queryId-$partitionId%05d-$taskId.tmp")
  private val fs = finalPath.getFileSystem(conf)
  private val out = fs.create(tmpPath, true)
  private val writer = new WarcWriter.RecordStreamWriter(out, codec, checksum,
    zstdDict = zstdDict)
  // member_index option: record each member's compressed start offset so
  // the archive can be re-scanned in PARALLEL slices (and point-looked-up)
  // without ever decompressing it serially — the index is the writer's
  // own knowledge, emitted as a CDXJ-member sidecar next to the data file
  private val memberOffsets =
    if (memberIndex) scala.collection.mutable.ArrayBuffer.empty[Long] else null

  private val idx = schema.fieldNames.zipWithIndex.toMap
  private def str(row: InternalRow, col: String): Option[String] =
    idx.get(col).filter(!row.isNullAt(_)).map(i => row.getUTF8String(i).toString)

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(WarcScanMetrics.Task("warcRecordsWritten", writer.recordsWritten))

  override def write(row: InternalRow): Unit = {
    // drop_null_content: a null content column means "no record here".
    // This is the write-path null gate that lets callers express
    // "keep rows whose derived payload is non-null" WITHOUT a Filter on
    // the derived column — such a filter predicate-pushes below the
    // projection and, in a session without graft.plans.KernelOnce (the
    // GraftExtensions rule), re-evaluates the deriving kernel per row.
    if (dropNullContent && idx.get("content").exists(row.isNullAt)) return
    val content: Array[Byte] = idx.get("content").filter(!row.isNullAt(_))
      .map(row.getBinary).getOrElse(Array.emptyByteArray)
    val headerEntries: Vector[(String, String)] = idx.get("headers")
      .filter(!row.isNullAt(_)).map { i =>
        val arr = row.getArray(i)
        (0 until arr.numElements()).map { j =>
          val s = arr.getStruct(j, 2)
          (s.getUTF8String(0).toString, s.getUTF8String(1).toString)
        }.toVector
      }.getOrElse(Vector.empty)
    var headers = HeaderMap(headerEntries)
    val recType = str(row, "record_type")
      .orElse(headers.get("WARC-Type")).getOrElse("resource")
    if (headers.get("WARC-Type").isEmpty)
      headers = headers.updated("WARC-Type", recType)
    str(row, "record_id").foreach(id => headers = headers.updated("WARC-Record-ID", id))
    idx.get("record_date").filter(!row.isNullAt(_)).foreach { i =>
      val micros = row.getLong(i)
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
      headers = headers.updated("WARC-Date",
        java.time.format.DateTimeFormatter.ISO_INSTANT.format(inst))
    }
    val rec = WarcRecord("", -1L, -1L, headers.get("WARC-Record-ID"), recType,
      RecordType.mask(recType), None, content.length.toLong, headers, content,
      None, None,
      // preserve the record's own version line on round-trips (a scanned
      // WARC/1.0 record must not re-serialize as WARC/1.1)
      version = str(row, "warc_version").getOrElse(""))
    val off = writer.write(rec)
    if (memberOffsets != null) memberOffsets += off
  }

  private val idxFinalPath = new Path(dir, finalPath.getName + ".idx")
  private val idxTmpPath = new Path(dir, "." + finalPath.getName + s".idx-$taskId.tmp")

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    if (memberOffsets != null) {
      // JSON-lines member index (the member_index scan option's format):
      // committed via the same tmp+rename discipline as the data file
      val w = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(idxTmpPath, true),
          java.nio.charset.StandardCharsets.UTF_8)))
      try memberOffsets.foreach(o =>
        w.println(s"""{"filename":"${finalPath.getName}","offset":$o}"""))
      finally w.close()
      fs.delete(idxFinalPath, false)
      if (!fs.rename(idxTmpPath, idxFinalPath))
        throw new java.io.IOException(
          s"warc index commit failed: rename $idxTmpPath -> $idxFinalPath returned false")
    }
    fs.delete(finalPath, false)
    if (!fs.rename(tmpPath, finalPath))
      throw new java.io.IOException(
        s"warc write commit failed: rename $tmpPath -> $finalPath returned false")
    WarcCommitMessage(finalPath.toString, writer.recordsWritten)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => }
    fs.delete(tmpPath, false)
    if (memberOffsets != null) fs.delete(idxTmpPath, false)
  }

  override def close(): Unit = ()
}

// — streaming read path (spark.readStream.format("warc")) —

/** Micro-batch WARC stream over a landing directory (the Beam source's
  * distributed-scan semantics lifted to Structured Streaming; event time
  * = record_date per beam/warcio.py:155-157). An offset is the SET of
  * consumed file names (checkpointable JSON array): a batch is exactly
  * `end.files -- start.files`, so a late file whose name sorts before
  * already-consumed ones is still picked up, and re-listing races cannot
  * skip or double-read a file. Each batch plans the newly-arrived files
  * with the same partition reader as the batch scan.
  */
class WarcMicroBatchStream(
    options: CaseInsensitiveStringMap,
    parseOpts: WarcParseOptions,
    required: StructType,
    fsProps: Map[String, String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  /** Consumed-file offset. Exact membership for recent files plus a
    * modification-time cutoff below which every file is deemed consumed —
    * the same bound Spark's FileStreamSource applies (maxFileAge): the
    * checkpointed state stays O(files younger than the horizon) instead
    * of growing with the landing directory forever. A late-arriving file
    * is still detected regardless of how its NAME sorts; only a file
    * whose mod-time is older than the horizon is assumed already seen
    * (documented, like Spark's).
    */
  private case class FileSetOffset(cutoff: Long, files: Set[String]) extends Offset {
    def contains(path: String, modTime: Long): Boolean =
      modTime < cutoff || files(path)
    override def json(): String = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("cutoff", cutoff)
      val arr = root.putArray("files")
      files.toArray.sorted.foreach(arr.add)
      mapper.writeValueAsString(root)
    }
  }

  private def conf: Configuration = WarcInput.cachedConf(fsProps)

  private def listSorted(): Seq[FileStatus] =
    WarcInput.listFiles(WarcInput.paths(options), conf)
      .filter(st => WarcInput.isDataFile(st.getPath.getName))
      .sortBy(_.getPath.toString)

  /** How far back a file's mod-time may lie and still be tracked exactly
    * (`max_file_age_ms` option; files older than this below the horizon
    * are assumed consumed — Spark FileStreamSource's maxFileAge contract).
    */
  private val maxFileAgeMs: Long =
    Option(options.get("max_file_age_ms")).map(_.toLong)
      .getOrElse(7L * 24 * 3600 * 1000)

  override def latestOffset(): Offset = {
    val listed = listSorted()
    val maxMod = if (listed.isEmpty) 0L else listed.map(_.getModificationTime).max
    val cutoff = maxMod - maxFileAgeMs
    FileSetOffset(cutoff,
      listed.filter(_.getModificationTime >= cutoff).map(_.getPath.toString).toSet)
  }

  /** Admission control (`max_files_per_trigger`): bound how many new
    * archives one micro-batch admits, the FileStreamSource
    * maxFilesPerTrigger contract. A restart against a 100k-archive
    * backlog must trickle in bounded batches (bounded task count,
    * bounded state-store update per trigger), not plan one giant batch.
    * When a trigger is limited, the mod-time cutoff does NOT advance —
    * unadmitted files would fall below it and be deemed consumed; the
    * cutoff-based state GC resumes on the first caught-up trigger.
    */
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("max_files_per_trigger")).map(_.toInt)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** Trigger.AvailableNow: pin the offset visible at query start; the
    * run then drains exactly that set (in max_files_per_trigger-bounded
    * batches) and terminates — files landing mid-run wait for the next
    * run, which resumes from the checkpoint (the FileStreamSource
    * contract; without this Spark falls back to one unbounded batch and
    * warns about uncommitted-batch restarts).
    */
  private var availableNowTarget: Option[FileSetOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset().asInstanceOf[FileSetOffset])

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FileSetOffset]
    val listed = availableNowTarget match {
      case Some(t) => listSorted().filter(st =>
        t.contains(st.getPath.toString, st.getModificationTime))
      case None => listSorted()
    }
    val fresh = listed.filter(st =>
      !s.contains(st.getPath.toString, st.getModificationTime))
    val cap = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _ => Int.MaxValue
    }
    if (fresh.size <= cap) {
      // caught up: full consume + normal horizon advance
      val maxMod = if (listed.isEmpty) 0L else listed.map(_.getModificationTime).max
      val cutoff = math.max(s.cutoff, maxMod - maxFileAgeMs)
      FileSetOffset(cutoff,
        (s.files ++ fresh.map(_.getPath.toString)).filter { p =>
          listed.find(_.getPath.toString == p).forall(_.getModificationTime >= cutoff)
        })
    } else {
      // limited: admit the oldest-listed slice, keep the horizon still
      val admitted = fresh.sortBy(st => (st.getModificationTime, st.getPath.toString))
        .take(cap)
      FileSetOffset(s.cutoff, s.files ++ admitted.map(_.getPath.toString))
    }
  }
  override def initialOffset(): Offset = FileSetOffset(Long.MinValue, Set.empty)
  override def deserializeOffset(json: String): Offset = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    if (node.isArray) {
      // previous offset format: plain consumed-file array (no cutoff)
      val it = node.elements()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      FileSetOffset(Long.MinValue, b.result())
    } else if (node.isObject && node.has("cutoff") && node.has("files")) {
      val it = node.get("files").elements()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      FileSetOffset(node.get("cutoff").asLong(), b.result())
    } else
      // an unrecognized checkpoint must FAIL, not silently restart from
      // zero and double-count every already-consumed archive
      throw new IllegalStateException(s"unrecognized warc stream offset: $json")
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileSetOffset]
    val e = end.asInstanceOf[FileSetOffset]
    val admitted = listSorted()
      .filter { st =>
        val p = st.getPath.toString
        val m = st.getModificationTime
        // A file neither offset tracks by name, deemed consumed purely by
        // the mod-time horizon (e.g. rsync/mv preserving an old mtime into
        // the landing dir): the skip is the documented maxFileAge tradeoff
        // but must not be silent — operators can raise max_file_age_ms.
        if (!s.files(p) && !e.files(p) && m < s.cutoff)
          WarcMicroBatchStream.log.warn(
            s"skipping $p: mod-time $m is older than the consumed-file horizon " +
            s"${s.cutoff} and the file is tracked by neither offset; if this file " +
            "is new, raise the max_file_age_ms option")
        e.contains(p, m) && !s.contains(p, m)
      }
    // the shared planner: a streaming backfill of indexed archives gets
    // the same member-parallel IdxSlice splits (and raw byte-range
    // splits) a batch scan plans — one whole-file partition per 100 GB
    // archive per trigger would serialize the backfill on single
    // executors.
    //
    // Replay contract (documented tradeoff, ADVICE r16): a batch
    // replayed after a failure re-plans against CURRENT sidecar state.
    // If a sidecar appeared between attempts (e.g. an earlier batch's
    // emit_member_index side-output landed), the replay plans
    // member-aligned partitions where the first attempt planned a
    // whole-file stream — the record set, contents, and totals are
    // identical, but the `offset` column's coordinate system for
    // mid-member records upgrades from stream position to compressed
    // member address, so replayed output is value-identical except for
    // that column. Pinning the first attempt's partitioning would
    // require recording sidecar availability per file in the offset
    // JSON (bloating the checkpoint by O(files) per trigger) to protect
    // a column whose documented semantics are "best seekable address
    // known at scan time" — the honest contract is documented instead:
    // treat `offset` as an opaque address, not a replay-stable key.
    WarcPlanner.plan(admitted, options, conf, WarcPlanner.sessionPacking())
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(parseOpts, required, fsProps,
      options.getInt("stream_retries", 0),
      // a streaming backfill benefits from the side-output the same way
      // a batch first scan does: every whole-file scan (alone or inside
      // a packed bin) meets the emit conditions (start=0, clean EOF)
      Option(options.get("emit_member_index")))
}

object WarcMicroBatchStream {
  private[sources] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[WarcMicroBatchStream])
}
