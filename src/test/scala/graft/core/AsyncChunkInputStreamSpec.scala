package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Contract of the opt-in decode/parse pipeline (scan option
  * `async_decode`): byte-for-byte transparency under arbitrary read
  * shapes, producer-error propagation (never silent EOF), and no thread
  * leak when the consumer abandons the stream early.
  */
class AsyncChunkInputStreamSpec extends AnyFunSuite {

  private def liveProducers(): Int =
    Thread.getAllStackTraces.keySet().toArray.count {
      case t: Thread => t.getName == "graft-async-chunk-producer" && t.isAlive
      case _ => false
    }

  test("byte-for-byte transparency under random read sizes and chunk sizes") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val n = rnd.nextInt(300000)
      val data = new Array[Byte](n); rnd.nextBytes(data)
      val chunk = 1 + rnd.nextInt(8192)
      val in = new AsyncChunkInputStream(
        new java.io.ByteArrayInputStream(data), chunkSize = chunk,
        depth = 1 + rnd.nextInt(4))
      val out = new java.io.ByteArrayOutputStream(n)
      val buf = new Array[Byte](1 + rnd.nextInt(4096))
      var r = 0
      while (r >= 0) {
        if (rnd.nextInt(8) == 0) {
          val b = in.read() // single-byte path
          if (b < 0) r = -1 else out.write(b)
        } else {
          r = in.read(buf, 0, 1 + rnd.nextInt(buf.length))
          if (r > 0) out.write(buf, 0, r)
        }
      }
      in.close()
      assert(java.util.Arrays.equals(out.toByteArray, data), s"trial $trial")
    }
  }

  test("a producer-side IOException surfaces on the consumer read, " +
      "never as silent EOF") {
    val dying = new java.io.InputStream {
      private var served = 0
      override def read(): Int = {
        if (served > 100000) throw new java.io.IOException("upstream died")
        served += 1; 7
      }
    }
    val in = new AsyncChunkInputStream(dying)
    val buf = new Array[Byte](8192)
    val e = intercept[java.io.IOException] {
      var r = 0
      while (r >= 0) r = in.read(buf)
    }
    assert(e.getMessage.contains("upstream died"))
    in.close()
  }

  test("a producer error with a FULL queue still reaches a slow consumer " +
      "(the marker is delivered with put, not dropped by a failed offer)") {
    val dying = new java.io.InputStream {
      private var served = 0
      override def read(): Int = {
        if (served > 5000) throw new java.io.IOException("upstream died")
        served += 1; 7
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        var i = 0
        try { while (i < len) { b(off + i) = read().toByte; i += 1 }; i }
        catch { case e: java.io.IOException => if (i > 0) i else throw e }
      }
    }
    // depth 1 + tiny chunks: the producer fills the queue and dies while
    // it is full; the consumer reads slowly enough to guarantee that
    val in = new AsyncChunkInputStream(dying, chunkSize = 512, depth = 1)
    @volatile var outcome: Either[Throwable, Long] = null
    val consumer = new Thread(() => {
      outcome = try {
        val buf = new Array[Byte](256)
        var total = 0L
        var r = 0
        while (r >= 0) { Thread.sleep(2); r = in.read(buf); if (r > 0) total += r }
        Right(total)
      } catch { case t: Throwable => Left(t) }
    })
    consumer.start()
    consumer.join(20000)
    assert(!consumer.isAlive, "consumer hung: the error marker was lost")
    assert(outcome.isLeft && outcome.left.exists(_.getMessage.contains("upstream died")),
      s"expected the producer error, got $outcome")
    in.close()
  }

  test("early close interrupts and joins the producer — no leaked thread " +
      "blocked on a full queue") {
    val before = liveProducers()
    val endless = new java.io.InputStream {
      override def read(): Int = 7
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        java.util.Arrays.fill(b, off, off + len, 7.toByte); len
      }
    }
    val in = new AsyncChunkInputStream(endless, chunkSize = 1024, depth = 2)
    val buf = new Array[Byte](100)
    in.read(buf) // producer is now running and will fill the queue
    Thread.sleep(50) // let it block on put()
    in.close()
    assert(liveProducers() <= before, "producer thread leaked past close()")
  }

  test("scan option async_decode reproduces the sync scan on every codec") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .appName("async-decode-spec").getOrCreate()
    try {
      for (f <- Seq("warcfile.warc", "warcfile.warc.gz", "warcfile.warc.lz4")) {
        val path = s"${graft.sources.BenchCorpus.FixtureDir}/$f"
        def ids(async: Boolean) = spark.read.format("warc")
          .option("async_decode", async)
          .load(path).select("record_id", "offset").collect()
          .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
        assert(ids(async = true) == ids(async = false), f)
      }
    } finally spark.stop()
  }
}
