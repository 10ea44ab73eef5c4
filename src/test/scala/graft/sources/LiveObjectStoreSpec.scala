package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** OPT-IN live object-store exercise — the one reference capability the
  * offline sandbox cannot prove (fastwarc-py/fastwarc/cli.py:291-348
  * streams archives straight off S3/HTTP; this engine maps those inputs
  * to the Hadoop FileSystem layer, proven against local doubles
  * everywhere else in this package).
  *
  * Activation: set `GRAFT_S3_TEST_URL` to a WRITABLE prefix (e.g.
  * `s3a://my-bucket/graft-ci/`) and provide credentials the Hadoop s3a
  * connector understands (`AWS_ACCESS_KEY_ID`/`AWS_SECRET_ACCESS_KEY`,
  * instance profile, ...). Without the variable the suite CANCELS
  * (skipped-green) — it never fails an offline run. With it, the suite
  * uploads the 50-record fixture archive and drives the two paths whose
  * logic is mock-proven but environment-bound:
  *
  *   1. `stream_retries` whole-stream scan over the remote object (the
  *      w25 warc_retry path: reopen + seek + skip-dup against real
  *      GET semantics);
  *   2. `emit_member_index` side-output committed to the object store
  *      (multipart/rename semantics) and the OPTION-FREE member-parallel
  *      rescan from the auto-discovered sidecar (ranged GETs per
  *      member-group slice — the w46/w47 loop against real range reads).
  *
  * README documents the knob. Residual risk once this passes live:
  * none — every reference capability is then exercised end-to-end.
  */
class LiveObjectStoreSpec extends AnyFunSuite {

  private val urlOpt = sys.env.get("GRAFT_S3_TEST_URL").map(_.stripSuffix("/"))

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("live-object-store-spec").getOrCreate()

  private def withLivePrefix(test: String => Unit): Unit = {
    assume(urlOpt.isDefined,
      "GRAFT_S3_TEST_URL not set - live object-store exercise skipped")
    val base = s"${urlOpt.get}/graft-live-${java.util.UUID.randomUUID()}"
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs =
      try basePath.getFileSystem(conf)
      catch {
        case e: RuntimeException =>
          cancel(s"object-store connector unavailable: ${e.getMessage}")
      }
    // stage the fixture archive at the remote prefix
    val remote = new org.apache.hadoop.fs.Path(base, "live.warc.gz")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.sources.BenchCorpus.FixtureGz))
    val out = fs.create(remote, true)
    try out.write(bytes) finally out.close()
    try test(base)
    finally fs.delete(basePath, true)
  }

  test("stream_retries scan of a live remote archive returns all records") {
    withLivePrefix { base =>
      val rows = spark.read.format("warc")
        .option("stream_retries", "3")
        .load(s"$base/live.warc.gz")
        .select("record_id", "error").collect()
      assert(rows.length == 50, s"expected 50 records, got ${rows.length}")
      assert(rows.forall(_.isNullAt(1)), "no error rows on a healthy object")
    }
  }

  test("emit_member_index commits a sidecar to the object store and the " +
      "option-free rescan goes member-parallel over ranged reads") {
    withLivePrefix { base =>
      assert(spark.read.format("warc")
        .option("emit_member_index", base)
        .load(s"$base/live.warc.gz").count() == 50L)
      val conf = spark.sparkContext.hadoopConfiguration
      val idx = new org.apache.hadoop.fs.Path(s"$base/live.warc.gz.idx")
      assert(idx.getFileSystem(conf).exists(idx), "sidecar missing remotely")
      val rescan = spark.read.format("warc")
        .option("max_partition_bytes", 16 * 1024)
        .load(s"$base/live.warc.gz")
      assert(rescan.rdd.getNumPartitions > 1,
        "auto-discovery did not split the remote archive")
      assert(rescan.count() == 50L)
    }
  }

  test("point reads against the live store: resolvePointReads issues " +
      "ranged GETs through the Hadoop FS (one open per group, seek per " +
      "hit) and extracts every member") {
    withLivePrefix { base =>
      // the sidecar gives compressed member addresses; its emit pass is
      // the first scan (same loop the previous test drives)
      assert(spark.read.format("warc")
        .option("emit_member_index", base)
        .load(s"$base/live.warc.gz").count() == 50L)
      val conf = spark.sparkContext.hadoopConfiguration
      val idx = new org.apache.hadoop.fs.Path(s"$base/live.warc.gz.idx")
      val offs = WarcInput.readMemberIndexFile(idx, conf).map(_._2)
      assert(offs.size == 50)
      val sp = spark
      import sp.implicits._
      val hits = sp.createDataset(offs.map(o => ("", s"$base/live.warc.gz", o)))
      val res = graft.queries.Warc.resolvePointReads(hits)
      import org.apache.spark.sql.functions._
      assert(res.filter(col("content_length") >= 0).count() == 50L)
      assert(res.agg(sum("content_length")).head.getLong(0) == 527846L)
    }
  }
}
