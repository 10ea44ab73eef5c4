package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Harness entry point; see perfbench/README.md. The last stdout line is
  * the result object, earlier lines are the run fingerprint and notes.
  */
object Main {
  /** Untimed queries before a batch workload's timed ones. */
  val WarmupS = 4.0
  /** Single-thread kernel warm-up after the set-up. */
  val PrimeS = 3.0
  /** Stream warm-up: files processed before the schedule starts, and
    * files landed on the schedule but not counted (6 s of landings; over
    * the first seconds the micro-batches keep getting faster).
    */
  val WarmFirst = 2
  val StreamWarmS = 6.0
  def warmLandings: Int = WarmFirst + math.round(StreamWarmS * Corpus.landingsPerSecond).toInt

  def log(s: String): Unit = System.err.println(s"perfbench: $s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traces: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("traces")))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Host and run fingerprint, printed with every result. */
  def fingerprint(a: Args): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = mapper.createObjectNode()
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    o.put("workload", a.workload); o.put("seed", a.seed); o.put("seconds", a.seconds)
    o.put("trace", a.trace)
    o.put("nproc", Runtime.getRuntime.availableProcessors)
    o.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1000000L)
    o.put("jvm_flags", rt.getInputArguments.toArray.map(_.toString)
      .filter(f => f.startsWith("-X") || f.startsWith("-XX")).mkString(" "))
    o.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
    o.put("spark", org.apache.spark.SPARK_VERSION)
    o.put("scala", scala.util.Properties.versionNumberString)
    o.put("git_commit", sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"))
    o.put("source_digest", sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown"))
    o.put("note", "BENCH_r09..r18 came from a 32-core host and the graft.Bench sweep; " +
      "they are not comparable with these numbers")
    mapper.writeValueAsString(o)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "gencheck") { GenCheck.run(a); return }
    println("perfbench-fingerprint " + fingerprint(a))
    val g0 = System.nanoTime()
    val w: Workload = a.workload match {
      case "scan" => new ScanWorkload(Corpus.scan(a.work, a.seed))
      case "extract" => new ExtractWorkload(Corpus.extract(a.work, a.seed), a.work)
      case "neardup" => new NeardupWorkload(Corpus.neardup(a.work, a.seed))
      case "stream" => new StreamWorkload(Corpus.stream(a.work, a.seed, a.seconds, warmLandings), a.work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (System.nanoTime() - g0) / 1e9
    log(f"generated inputs in $genS%.2f s")

    // set-up: session, extension registration and one cold run, as the
    // first Spark work of this JVM (only generation ran before it), so
    // class loading, static init and plan compilation are all counted.
    // A second set-up in the same JVM would be warm, so there is one per
    // run; the median is taken over runs.
    val t0 = System.nanoTime()
    val spark = session()
    val setupS = try { w.cold(spark); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => stop(spark); throw e }
    log(f"set-up $setupS%.3f s")

    val result = try {
      w.prime(PrimeS)
      if (a.trace) traced(a, w, spark, genS) else untraced(a, w, spark, setupS)
    } finally stop(spark)
    println(result)
  }

  private def num(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = mapper.createObjectNode()
    o.put("correct", correct); o.put("attempted", attempted); o.put("failed", failed)
    val m = o.putObject("metrics")
    metrics.foreach { case (k, v, u) => val x = m.putObject(k); x.put("value", num(v)); x.put("unit", u) }
    mapper.writeValueAsString(o)
  }

  private def untraced(a: Args, w: Workload, spark: SparkSession, setupS: Double): String = {
    val m = w.measure(spark, a.seconds)
    log(f"${m.latencies.length} operations, latency ${m.latencies.map(x => f"$x%.3f").mkString(" ")}")
    json(m.failed == 0, m.attempted, m.failed, Seq(
      ("setup_s", setupS, "s"),
      ("records_per_s", Stats.median(m.recordRates), "1/s"),
      ("docs_per_s", Stats.median(m.docRates), "1/s"),
      ("latency_p50_s", Stats.median(m.latencies), "s"),
      ("latency_p90_s", Stats.quantile(m.latencies, 0.9), "s"),
      ("mem_peak_mb", m.memPeakMb, "MB")))
  }

  private def traced(a: Args, w: Workload, spark: SparkSession, genS: Double): String = {
    val tag = s"${a.workload}-seed${a.seed}"
    val t = new Tracer(s"$tag-${java.util.UUID.randomUUID()}")
    val (ok, got) = try (true, w.trace(spark, t, a.seconds))
      catch { case scala.util.control.NonFatal(e) => log(s"traced run failed: $e"); (false, Map.empty[String, Double]) }
    val f = t.write(a.traces, tag)
    println(s"perfbench-trace ${f.getPath}")
    t.table.take(12).foreach { case (n, c, tot, self) =>
      println(f"perfbench-self $n%-24s $c%7d $tot%9.4f s $self%9.4f s")
    }
    val all = Metrics.perLayer.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) } ++ Seq(
      ("bench.gen_s", genS, "s"),
      ("error_rate", if (ok) 0.0 else 1.0, "ratio"))
    json(ok, 1, if (ok) 0 else 1, all.groupBy(_._1).map(_._2.last).toSeq.sortBy(_._1))
  }
}

/** The per-layer metric names and units, as BENCHMARK.json lists them. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "core.codec.gzip_mb_per_s" -> "MB/s", "core.codec.lz4_mb_per_s" -> "MB/s",
    "core.codec.zstd_mb_per_s" -> "MB/s", "core.codec.self_s" -> "s",
    "core.warc.ns_per_record" -> "ns", "core.warc.self_s" -> "s",
    "core.http.ns_per_record" -> "ns",
    "sources.encode_ns_per_record" -> "ns", "sources.spark_overhead_ratio" -> "ratio",
    "sources.partitions" -> "count", "sources.plan_s" -> "s", "sources.warc_records" -> "count",
    "sources.warc_error_rows" -> "count", "sources.warc_content_bytes" -> "B",
    "core.encodings.us_per_doc" -> "us", "html.us_per_doc" -> "us", "html.mb_per_s" -> "MB/s",
    "core.lang.us_per_doc" -> "us",
    "functions.tokens_us_per_doc" -> "us", "functions.blocklist_us_per_doc" -> "us",
    "functions.minhash_us_per_doc" -> "us",
    "core.writer.mb_per_s" -> "MB/s", "sinks.records_written" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.driver_idle_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.fetch_wait_s" -> "s", "spark.task_skew" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB",
    "streaming.state_commit_ms" -> "ms", "streaming.files_per_batch" -> "count",
    "bench.generator_lag_s" -> "s", "bench.gen_s" -> "s",
    "bench.trace_overhead_ratio" -> "ratio", "bench.ledger_coverage" -> "ratio",
    "error_rate" -> "ratio")
}

/** Generator determinism: the same seed gives byte-identical inputs, a
  * different seed different ones. Prints one JSON line; exits 1 on failure.
  */
object GenCheck {
  private def digests(dir: File): Map[String, String] = {
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filterNot(_.getName.startsWith(".")).map { f =>
      dir.toPath.relativize(f.toPath).toString -> Warc.md5Hex(java.nio.file.Files.readAllBytes(f.toPath))
    }.toMap
  }

  def run(a: Main.Args): Unit = {
    def gen(tag: String, seed: Long): Map[String, String] = {
      val d = new File(a.work, tag)
      Corpus.scan(d, seed); Corpus.extract(d, seed); Corpus.neardup(d, seed)
      Corpus.stream(d, seed, 2.0, Main.warmLandings)
      digests(d)
    }
    val x = gen("a", a.seed)
    val y = gen("b", a.seed)
    val z = gen("c", a.seed + 1)
    val same = x == y
    val differ = x.keySet.forall(k => z.get(k) != x.get(k))
    Main.log(s"${x.size} files; same seed identical: $same; other seed differs in every file: $differ")
    println(s"""{"correct": ${same && differ}, "attempted": 2, "failed": ${Seq(same, differ).count(!_)}, """ +
      s""""metrics": {"files": {"value": ${x.size}, "unit": "count"}}}""")
    if (!(same && differ)) sys.exit(1)
  }
}
