package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Packing of small whole-file partitions into slot-sized bins
  * (`WarcPlanner.pack`, Spark's file-source rule): a scan of many small
  * archives plans fewer partitions than files, and every row, error row,
  * metric and member-index sidecar is the same as reading each file on
  * its own.
  */
class WarcPackingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val DataDir = BenchCorpus.FixtureDir
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("warc-packing-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Copies of fixture files under new names: (fixture name, copy name). */
  private def landed(prefix: String, files: Seq[(String, String)]): Path = {
    val dir = Files.createTempDirectory(prefix)
    files.foreach { case (src, dst) =>
      Files.copy(Paths.get(s"$DataDir/$src"), dir.resolve(dst)) }
    dir
  }

  private def withSessionConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def scanNode(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  private def planOf(df: DataFrame): Seq[InputPartition] = scanNode(df).inputPartitions

  /** (filename, offset, record_id, md5(content), error) of every row. */
  private def rows(df: DataFrame)
      : Seq[(String, Long, Option[String], Option[String], Option[String])] =
    df.select(col("filename"), col("offset"), col("record_id"),
        md5(col("content")), col("error")).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4))))
      .toSeq.sorted

  /** Runs `df` and returns its scan node's metrics. */
  private def metricsOf(df: DataFrame): Map[String, Long] = {
    df.collect()
    scanNode(df).metrics.map { case (k, m) => k -> m.value }.toMap
  }

  private val twelve: Seq[(String, String)] = (0 until 3).flatMap(i => Seq(
    "warcfile.warc.gz" -> s"g$i.warc.gz",
    "warcfile.warc.lz4" -> s"l$i.warc.lz4",
    "warcfile.warc.zst" -> s"z$i.warc.zst",
    "warcfile.warc" -> s"p$i.warc"))

  test("12 small archives of four codecs plan fewer than 12 partitions; " +
      "rows and scan metrics equal the 12 single-file scans") {
    val dir = landed("pack-mixed", twelve)
    val packed = spark.read.format("warc").load(dir.toString)
    val plan = planOf(packed)
    assert(plan.length < 12, s"expected packed bins, got ${plan.length} partitions")
    assert(plan.exists(_.isInstanceOf[WarcFilesPartition]))
    assert(plan.flatMap(WarcFilesPartition.unpack).map(p => Paths.get(p.path).getFileName.toString)
      .sorted == twelve.map(_._2).sorted, "every file exactly once")
    val packedRows = rows(packed)
    val singles = twelve.map { case (_, name) =>
      spark.read.format("warc").load(dir.resolve(name).toString) }
    assert(packedRows == singles.flatMap(rows).sorted)
    assert(packedRows.length == 12 * 50)
    val m = metricsOf(packed)
    val singleMetrics = singles.map(metricsOf)
    assert(m("warcRecords") == singleMetrics.map(_("warcRecords")).sum, m)
    assert(m("warcContentBytes") == singleMetrics.map(_("warcContentBytes")).sum, m)
    assert(m("warcErrorRows") == 0L, m)
    assert(m("warcFiles") == 12L, m)
    assert(singleMetrics.forall(_("warcFiles") == 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a clipped archive packed with healthy files keeps its error rows; " +
      "the healthy files still yield every row") {
    val dir = landed("pack-clipped", Seq(
      "clipped.warc.gz" -> "clipped.warc.gz",
      "warcfile.warc.gz" -> "a.warc.gz",
      "warcfile.warc.gz" -> "b.warc.gz",
      "warcfile.warc.lz4" -> "c.warc.lz4"))
    withSessionConf("spark.sql.files.minPartitionNum" -> "1") {
      val packed = spark.read.format("warc").load(dir.toString)
      val plan = planOf(packed)
      assert(plan.length == 1 && plan.head.isInstanceOf[WarcFilesPartition], s"$plan")
      val all = rows(packed)
      val alone = rows(spark.read.format("warc").load(dir.resolve("clipped.warc.gz").toString))
      assert(alone.exists(_._5.isDefined), "the clipped archive must report an error row")
      val clippedPath = alone.head._1
      assert(all.filter(_._1 == clippedPath) == alone)
      val healthy = all.filter(_._1 != clippedPath)
      assert(healthy.length == 150 && healthy.forall(_._5.isEmpty))
      assert(metricsOf(packed)("warcErrorRows") == alone.count(_._5.isDefined).toLong)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val compressed = Seq(
    "warcfile.warc.gz" -> "a.warc.gz",
    "warcfile.warc.gz" -> "b.warc.gz",
    "warcfile.warc.lz4" -> "c.warc.lz4",
    "warcfile.warc.zst" -> "d.warc.zst",
    "warcfile.warc" -> "e.warc")

  test("emit_member_index over a packed bin commits one sidecar per " +
      "compressed file, byte-identical to the single-file scans'") {
    val dir = landed("pack-emit", compressed)
    val packedIdx = Files.createTempDirectory("pack-emit-packed")
    val singleIdx = Files.createTempDirectory("pack-emit-single")
    withSessionConf("spark.sql.files.minPartitionNum" -> "1") {
      val packed = spark.read.format("warc")
        .option("emit_member_index", packedIdx.toString).load(dir.toString)
      assert(planOf(packed).length == 1)
      assert(packed.select("record_id").collect().length == 250)
    }
    compressed.foreach { case (_, name) =>
      spark.read.format("warc").option("emit_member_index", singleIdx.toString)
        .load(dir.resolve(name).toString).select("record_id").collect()
    }
    def sidecars(d: Path): Map[String, Seq[Byte]] =
      d.toFile.listFiles().filter(_.getName.endsWith(".idx"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val fromPacked = sidecars(packedIdx)
    assert(fromPacked.keySet ==
      compressed.map(_._2).filterNot(_.endsWith(".warc")).map(_ + ".idx").toSet,
      fromPacked.keySet)
    assert(fromPacked == sidecars(singleIdx))
    Seq(dir, packedIdx, singleIdx).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("limit(1) over a packed bin returns and leaves no sidecar for the " +
      "unfinished file") {
    val dir = landed("pack-limit", compressed)
    val idxDir = Files.createTempDirectory("pack-limit-idx")
    withSessionConf("spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("warc")
        .option("emit_member_index", idxDir.toString).load(dir.toString)
      val bin = planOf(df).head.asInstanceOf[WarcFilesPartition]
      val first = Paths.get(bin.files.head.path).getFileName.toString
      assert(df.select("record_id").limit(1).collect().length == 1)
      assert(!idxDir.resolve(first + ".idx").toFile.exists(),
        s"$first was not read to EOF but left a sidecar")
      assert(idxDir.toFile.listFiles().forall(!_.getName.endsWith(".idx")))
    }
    Seq(dir, idxDir).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("an indexed file above max_partition_bytes plans IdxSlice partitions " +
      "beside a packed bin; a one-file scan plans one plain partition") {
    val dir = Files.createTempDirectory("pack-idx")
    val gz = Files.readAllBytes(Paths.get(BenchCorpus.FixtureGz))
    // two concatenated member chains: a valid 100-member gzip archive
    Files.write(dir.resolve("big.warc.gz"), gz ++ gz)
    assert(spark.read.format("warc").option("emit_member_index", dir.toString)
      .load(dir.resolve("big.warc.gz").toString).select("record_id").collect().length == 100)
    (0 until 4).foreach(i =>
      Files.copy(Paths.get(s"$DataDir/clipped.warc.gz"), dir.resolve(s"small$i.warc.gz")))
    withSessionConf("spark.sql.files.minPartitionNum" -> "1",
        "spark.sql.files.openCostInBytes" -> "1024") {
      val df = spark.read.format("warc")
        .option("max_partition_bytes", 256 * 1024).load(dir.toString)
      val plan = planOf(df)
      val big = plan.collect { case p: WarcInputPartition if p.path.endsWith("big.warc.gz") => p }
      assert(big.length > 1 && big.forall(_.idx.isDefined), s"$plan")
      val bins = plan.collect { case b: WarcFilesPartition => b }
      assert(bins.nonEmpty, s"$plan")
      assert(plan.flatMap(WarcFilesPartition.unpack).count(_.path.contains("small")) == 4)
      assert(df.select("record_id").collect().length == 100 + 4 *
        spark.read.format("warc").load(dir.resolve("small0.warc.gz").toString).count())
    }
    val one = planOf(spark.read.format("warc").load(BenchCorpus.FixtureGz))
    assert(one.length == 1)
    one.head match {
      case p: WarcInputPartition =>
        assert(p.start == 0L && p.end == Long.MaxValue && p.idx.isEmpty)
      case other => fail(s"one file planned $other")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("planning the same input twice, in any listing order, gives the same plan") {
    val dir = landed("pack-determinism", twelve)
    def viaScan(): Seq[InputPartition] =
      planOf(spark.read.format("warc").load(dir.toString))
    assert(viaScan() == viaScan())
    val conf = spark.sessionState.newHadoopConf()
    val files = WarcInput.listBatchFiles(Seq(dir.toString), conf)
    val opts = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    val packing = WarcPlanner.Packing(4L << 20, 4)
    assert(WarcPlanner.plan(files, opts, conf, packing).toSeq ==
      WarcPlanner.plan(files.reverse, opts, conf, packing).toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("bin size follows Spark's formula: 1,000 gzip archives of 1 MB " +
      "pack 16 to a task (10 M archives: 625 k tasks)") {
    val files = (0 until 1000).map(i =>
      WarcInputPartition(f"s3a://crawl/$i%04d.warc.gz", 0L, Long.MaxValue, 1L << 20))
    val bins = WarcPlanner.pack(files, 128L << 20, WarcPlanner.Packing(4L << 20, 4))
    assert(bins.length == 63)
    val sizes = bins.map(WarcFilesPartition.unpack(_).size)
    assert(sizes.sum == 1000 && sizes.max == 16)
    // tiny files: a bin holds max_partition_bytes / openCost of them
    val tiny = (0 until 100).map(i =>
      WarcInputPartition(f"/d/$i%03d.warc", 0L, Long.MaxValue, 1000L))
    val tinyBins = WarcPlanner.pack(tiny, 128L << 20, WarcPlanner.Packing(4L << 20, 1))
    assert(tinyBins.map(WarcFilesPartition.unpack(_).size).max == 32)
  }
}
