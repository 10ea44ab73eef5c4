package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Contract of the plan-time-bounded member-index path: partitions carry
  * a BYTE SLICE of the `.idx` sidecar (IdxSlice) instead of materialized
  * offsets, executors parse their own slice, and the slice algebra —
  * Hadoop-style line ownership, offset dedupe, bound chaining — must
  * reconstruct exactly the offsets a single sorted read produces, for
  * ANY chunking. This is what keeps `planInputPartitions` at
  * O(files + partitions) driver work at 100 TB (the Spark analog of
  * Beam never materializing all split points, beam/warcio.py:101-109).
  */
class IdxSliceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val DataDir = graft.sources.BenchCorpus.FixtureDir
  private var spark: SparkSession = _
  private val conf = new Configuration()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("idx-slice-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeSidecar(dir: java.nio.file.Path, name: String,
      lines: Seq[String]): Path = {
    val f = dir.resolve(name)
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    new Path(f.toString)
  }

  /** Read every chunk of a chunking and verify the chaining invariants:
    * owned sets are disjoint, their ordered concatenation is the full
    * deduped offset list, and chunk i's bound is chunk i+1's first owned
    * offset (the whole-file monotonicity proof from local checks).
    */
  private def verifyChunking(idxPath: Path, idxLen: Long, nChunks: Int,
      expect: Seq[Long], dataName: String): Unit = {
    val chunk = math.max(1L, (idxLen + nChunks - 1) / nChunks)
    val slices = (0L until idxLen by chunk).map(s =>
      IdxSlice(idxPath.toString, s, math.min(s + chunk, idxLen)))
    val parts = slices.map(sl => WarcInput.readIdxSlice(sl, dataName, conf))
    // duplicate offsets straddling a slice boundary may appear in both
    // slices' owned lists — harmless because decode ranges are
    // [firstOwned, bound) and bounds chain exactly (checked below), so
    // the boundary member is decoded by exactly one slice. The set
    // invariant: distinct union reconstructs the full offset list, in
    // order.
    val all = parts.flatMap(_._1).distinct
    assert(all == expect,
      s"n=$nChunks: owned union $all != expected $expect")
    // bound chaining: each non-empty slice's bound equals the first
    // owned offset of the next slice that owns anything (or None at EOF)
    val firstOwnedAfter: Seq[Option[Long]] = parts.indices.map { i =>
      parts.drop(i + 1).collectFirst { case (o, _) if o.nonEmpty => o.head }
    }
    parts.indices.foreach { i =>
      val (_, bound) = parts(i)
      assert(bound == firstOwnedAfter(i),
        s"n=$nChunks slice $i: bound $bound != next owned ${firstOwnedAfter(i)}")
    }
  }

  test("slice algebra reconstructs the full offset list for any chunking, " +
      "with garbage lines, other-file lines, duplicates, and an " +
      "unterminated last line") {
    val dir = java.nio.file.Files.createTempDirectory("idx-slice")
    val offs = Seq(0L, 17L, 17L, 512L, 4096L, 4097L, 65536L, 1048576L)
    val lines =
      Seq("""not json at all""") ++
      offs.take(3).map(o => s"""{"filename": "a.warc.gz", "offset": $o}""") ++
      Seq("""{"filename": "other.warc.gz", "offset": 3}""",
          """{"offset": 99}""") ++ // no filename -> skipped
      offs.drop(3).map(o => s"""{"filename": "a.warc.gz", "offset": $o}""")
    val p = writeSidecar(dir, "a.warc.gz.idx", lines)
    val idxLen = new java.io.File(p.toString).length()
    val expect = offs.distinct
    for (n <- 1 to 12) verifyChunking(p, idxLen, n, expect, "a.warc.gz")
    // chunk boundaries landing on every single byte: the exhaustive
    // two-slice sweep over all cut positions
    for (cut <- 1L until idxLen) {
      val a = WarcInput.readIdxSlice(IdxSlice(p.toString, 0, cut), "a.warc.gz", conf)
      val b = WarcInput.readIdxSlice(IdxSlice(p.toString, cut, idxLen), "a.warc.gz", conf)
      assert((a._1 ++ b._1).distinct.toSeq == expect, s"cut=$cut")
      assert(a._2 == b._1.headOption, s"cut=$cut bound mismatch")
      assert(b._2.isEmpty, s"cut=$cut tail slice must run to EOF")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("probeIdxPrefix: monotone prefix -> Ok, URL-sorted -> Disordered, " +
      "vanished sidecar -> Missing; other-file/garbage lines don't vote") {
    val dir = java.nio.file.Files.createTempDirectory("idx-probe")
    val ok = writeSidecar(dir, "ok.idx", Seq(
      """{"filename": "a.warc.gz", "offset": 10}""",
      """{"filename": "other.warc.gz", "offset": 5}""", // other file: ignored
      """not json""",
      """{"filename": "a.warc.gz", "offset": 20}"""))
    assert(WarcInput.probeIdxPrefix(ok.toString, "a.warc.gz", conf) ==
      WarcInput.IdxOk)
    val bad = writeSidecar(dir, "bad.idx", Seq(
      """{"filename": "a.warc.gz", "offset": 100}""",
      """{"filename": "a.warc.gz", "offset": 50}"""))
    assert(WarcInput.probeIdxPrefix(bad.toString, "a.warc.gz", conf) ==
      WarcInput.IdxDisordered)
    assert(WarcInput.probeIdxPrefix(
      dir.resolve("gone.idx").toString, "a.warc.gz", conf) ==
      WarcInput.IdxMissing)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("auto-discovered sidecar in URL order (not offset order) degrades " +
      "deterministically across slices and still scans completely — the " +
      "'auto-discovery must never fail a query' contract") {
    val dir = java.nio.file.Files.createTempDirectory("idx-disorder")
    val copy = dir.resolve("dis.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("record_id", "offset").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    def scan() = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
    val ordered = rows(scan())
    // rewrite the sidecar with its lines REVERSED (strictly descending
    // offsets — the shape of a URL/SURT-sorted foreign CDXJ)
    val idx = dir.resolve("dis.warc.gz.idx")
    val lines = java.nio.file.Files.readAllLines(idx).asScala.toSeq
    assert(lines.size > 2)
    java.nio.file.Files.write(idx,
      lines.reverse.mkString("\n").getBytes("UTF-8"))
    // drop the Hadoop LocalFileSystem checksum sibling: the rewrite
    // above is out-of-band, and a stale .crc would fail the read with
    // ChecksumException — a different (correctly loud) failure mode
    // than the line-order disorder this test pins
    java.nio.file.Files.deleteIfExists(dir.resolve(".dis.warc.gz.idx.crc"))
    val df = scan()
    val parts = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    assert(parts.length > 1, "degrade must not cost the member-parallel plan")
    assert(parts.forall(_.asInstanceOf[WarcInputPartition].idx.isDefined))
    val degraded = rows(df)
    assert(degraded == ordered,
      "degraded scan must reproduce the ordered scan bit-for-bit")
    assert(df.filter("error IS NOT NULL").count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("disordered degrade parses the PLAN-TIME sidecar snapshot " +
      "(IdxSlice.planLen): lines appended between plan and execution " +
      "are invisible to every slice alike — no tiling drift") {
    val dir = java.nio.file.Files.createTempDirectory("idx-snap")
    val copy = dir.resolve("snap.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    val idx = dir.resolve("snap.warc.gz.idx")
    val lines = java.nio.file.Files.readAllLines(idx).asScala.toSeq
    // disordered (reversed) sidecar, checksum sibling dropped
    java.nio.file.Files.write(idx,
      (lines.reverse.mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(dir.resolve(".snap.warc.gz.idx.crc"))
    val df = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
    // force planning at the CURRENT sidecar length...
    val parts = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.map(_.asInstanceOf[WarcInputPartition])
    assert(parts.length > 1 && parts.forall(_.idx.isDefined))
    val planLen = idx.toFile.length()
    assert(parts.forall(_.idx.get.planLen == planLen),
      "slices must carry the plan-time sidecar length")
    // ... then append garbage-offset lines (a concurrent indexer) and
    // execute: results must match the pre-append scan exactly
    java.nio.file.Files.write(idx,
      (lines.reverse.mkString("\n") + "\n" +
        """{"filename": "snap.warc.gz", "offset": 1}""" + "\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(dir.resolve(".snap.warc.gz.idx.crc"))
    val rows = df.select("record_id", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(rows.length == 50 && rows.map(_._1).distinct.length == 50,
      s"append between plan and execution changed the scan: ${rows.length} rows")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("sidecar deleted between plan and execution degrades to a " +
      "whole-file scan instead of failing the query") {
    val dir = java.nio.file.Files.createTempDirectory("idx-gone")
    val copy = dir.resolve("gone.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    val df = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
    // force planning NOW (sidecar present -> IdxSlice partitions) ...
    val parts = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    assert(parts.length > 1 &&
      parts.forall(_.asInstanceOf[WarcInputPartition].idx.isDefined))
    // ... then delete the sidecar before execution
    java.nio.file.Files.delete(dir.resolve("gone.warc.gz.idx"))
    val rows = df.select("record_id").collect()
    assert(rows.length == 50, s"expected 50 records, got ${rows.length}")
    assert(df.filter("error IS NOT NULL").count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a non-monotone sidecar fails loudly instead of silently " +
      "double-scanning") {
    val dir = java.nio.file.Files.createTempDirectory("idx-mono")
    val p = writeSidecar(dir, "b.warc.gz.idx", Seq(
      """{"filename": "b.warc.gz", "offset": 100}""",
      """{"filename": "b.warc.gz", "offset": 50}"""))
    val e = intercept[IllegalStateException] {
      WarcInput.readIdxSlice(IdxSlice(p.toString, 0, 999), "b.warc.gz", conf)
    }
    assert(e.getMessage.contains("not offset-monotone"))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("auto-discovered plan carries sidecar byte ranges, NOT member " +
      "offsets — the task payload is O(1) per partition however many " +
      "members the archive has") {
    val dir = java.nio.file.Files.createTempDirectory("idx-plan")
    val copy = dir.resolve("big.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    val parts = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
      .rdd.partitions // forces planInputPartitions through the V2 scan
    assert(parts.length > 1, "expected a member-parallel plan")
    // reflectively reach the InputPartition inside Spark's RDD partition
    val inputParts = spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString)
      .queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions
    assert(inputParts.nonEmpty)
    inputParts.foreach { ip =>
      val wp = ip.asInstanceOf[WarcInputPartition]
      assert(wp.memberOffsets.isEmpty, "plan must not embed member offsets")
      assert(wp.idx.isDefined, "plan must carry an IdxSlice")
    }
    // the slices tile the sidecar exactly
    val slices = inputParts.map(_.asInstanceOf[WarcInputPartition].idx.get)
      .sortBy(_.byteStart)
    val idxLen = dir.resolve("big.warc.gz.idx").toFile.length()
    assert(slices.head.byteStart == 0L)
    // the tail slice is open-ended (not pinned at the plan-time sidecar
    // length): lines appended by a concurrent indexer between plan and
    // execution stay owned instead of truncating the tail's decode
    assert(slices.last.byteEnd == Long.MaxValue && slices.last.byteStart < idxLen)
    slices.sliding(2).foreach {
      case Seq(a, b) => assert(a.byteEnd == b.byteStart, "slices must tile")
      case _ =>
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("explicit member_index DIRECTORY of basename-matched sidecars " +
      "plans IdxSlice partitions (zero plan-time sidecar reads); a " +
      "single consolidated CDXJ stays on the plan-time sorted path") {
    val dir = java.nio.file.Files.createTempDirectory("idx-explicit")
    val copy = dir.resolve("exp.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    def parts(indexOpt: String) = spark.read.format("warc")
      .option("member_index", indexOpt)
      .option("max_partition_bytes", 16 * 1024)
      .option("auto_member_index", false)
      .load(copy.toString)
      .queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.map(_.asInstanceOf[WarcInputPartition])
    // directory form: the basename-matched sidecar routes to IdxSlice
    val viaDir = parts(dir.toString)
    assert(viaDir.length > 1 && viaDir.forall(p =>
      p.idx.isDefined && p.memberOffsets.isEmpty), s"$viaDir")
    // single-file form: plan-time sorted path, offsets embedded
    val viaFile = parts(dir.resolve("exp.warc.gz.idx").toString)
    assert(viaFile.length > 1 && viaFile.forall(p =>
      p.idx.isEmpty && p.memberOffsets.nonEmpty), s"$viaFile")
    // both read identically
    def ids(indexOpt: String) = spark.read.format("warc")
      .option("member_index", indexOpt)
      .option("max_partition_bytes", 16 * 1024)
      .option("auto_member_index", false)
      .load(copy.toString)
      .select("record_id", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(ids(dir.toString) == ids(dir.resolve("exp.warc.gz.idx").toString))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a consolidated CDXJ above the shard threshold is sharded into " +
      "per-file sidecars by a Spark job (cached by source fingerprint) " +
      "and plans through IdxSlice — results identical to the plan-time " +
      "sorted path") {
    val dir = java.nio.file.Files.createTempDirectory("idx-shard")
    val scratch = java.nio.file.Files.createTempDirectory("idx-shard-scratch")
    val copy = dir.resolve("cons.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    // build the consolidated CDXJ from the real sidecar (pywb-style
    // leading url+timestamp fields before the JSON block), then remove
    // the per-file sidecar so only the consolidated form remains
    val idx = dir.resolve("cons.warc.gz.idx")
    val lines = java.nio.file.Files.readAllLines(idx).asScala.toSeq
    val cons = dir.resolve("collection.cdxj")
    java.nio.file.Files.write(cons, lines.zipWithIndex
      .map { case (l, i) => s"org,example)/p$i 20240101000000 $l" }
      .mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.delete(idx)
    java.nio.file.Files.deleteIfExists(dir.resolve(".cons.warc.gz.idx.crc"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("record_id", "offset").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    def scan(shardBytes: Long) = spark.read.format("warc")
      .option("member_index", cons.toString)
      .option("member_index_shard_bytes", shardBytes)
      .option("member_index_scratch", scratch.toString)
      .option("max_partition_bytes", 16 * 1024)
      .option("auto_member_index", false)
      .load(copy.toString)
    // big threshold: the plan-time sorted path (offsets embedded)
    val sortedPath = scan(Long.MaxValue)
    val sortedParts = sortedPath.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.map(_.asInstanceOf[WarcInputPartition])
    assert(sortedParts.forall(p => p.idx.isEmpty && p.memberOffsets.nonEmpty))
    val expected = rows(sortedPath)
    // 1-byte threshold: the shard job runs, the plan carries IdxSlice
    val sharded = scan(1L)
    val shardedParts = sharded.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.map(_.asInstanceOf[WarcInputPartition])
    assert(shardedParts.length > 1 &&
      shardedParts.forall(p => p.idx.isDefined && p.memberOffsets.isEmpty),
      s"shard path must plan IdxSlice partitions: $shardedParts")
    assert(rows(sharded) == expected,
      "sharded plan must reproduce the sorted-path rows bit-for-bit")
    // the cache directory holds the committed shard + _SUCCESS (reuse
    // gate for every later plan of the same index fingerprint)
    val cacheDirs = scratch.toFile.listFiles().filter(_.isDirectory)
    assert(cacheDirs.length == 1, s"${cacheDirs.toSeq}")
    assert(new java.io.File(cacheDirs.head, "cons.warc.gz.idx").exists())
    assert(new java.io.File(cacheDirs.head, "_SUCCESS").exists())
    // second plan reuses the cache: the shard's mtime must not change
    val mtime = new java.io.File(cacheDirs.head, "cons.warc.gz.idx").lastModified()
    assert(rows(scan(1L)) == expected)
    assert(new java.io.File(cacheDirs.head, "cons.warc.gz.idx").lastModified() == mtime,
      "cached shards must be reused, not rebuilt")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
  }

  test("slice path reproduces the materialized member_index path " +
      "bit-for-bit: same record ids AND same compressed offsets") {
    val dir = java.nio.file.Files.createTempDirectory("idx-parity")
    val copy = dir.resolve("parity.warc.gz")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$DataDir/warcfile.warc.gz"), copy)
    assert(spark.read.format("warc")
      .option("emit_member_index", dir.toString)
      .load(copy.toString).count() == 50L)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("record_id", "offset").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val viaSlices = rows(spark.read.format("warc")
      .option("max_partition_bytes", 16 * 1024)
      .load(copy.toString))
    val viaExplicit = rows(spark.read.format("warc")
      .option("member_index", dir.resolve("parity.warc.gz.idx").toString)
      .option("max_partition_bytes", 16 * 1024)
      .option("auto_member_index", false)
      .load(copy.toString))
    assert(viaSlices == viaExplicit)
    assert(viaSlices.map(_._2).distinct.length == 50,
      "offsets must be per-member compressed addresses")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
