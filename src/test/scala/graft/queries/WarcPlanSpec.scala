package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the extraction kernel across ALL queries.
  *
  * These guard plan SHAPE, not results. A filter on the extracted text is
  * predicate-pushed below the extraction projection, and Catalyst has no
  * cross-operator subexpression elimination, so without
  * [[graft.plans.KernelOnce]] (registered by `graft.GraftExtensions`; see
  * `KernelOnceSpec`) decode->parse->extract runs once per Filter
  * reference plus once in the projection. The in-repo queries must also
  * run in a session without the extension, so this spec's session does
  * not register it: it iterates every `SparkEntry.queries` entry, builds
  * its physical plan, and asserts one evaluation site for any plan that
  * contains the kernel — a query that filters after extraction fails here.
  *
  * w31 writes its frame eagerly and returns an aggregate over the
  * read-back output, so its extraction plan is not visible through the
  * returned DataFrame; `Warc.wetExportFrame` exposes the pre-write frame
  * and is pinned explicitly.
  */
class WarcPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").appName("warc-plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Kernel = "extract_plain_text"

  /** Evaluation sites of the extraction kernel. A Final-mode
    * HashAggregate PRINTS the whole aggregate expression but only merges
    * the partial buffers, so aggregate lines beyond the first are
    * display-only, not evaluations; an Exchange partitions by the child's
    * output attribute, so it never re-evaluates either. Filter/Project
    * lines each evaluate. Multiple kernel calls on ONE Project line are a
    * single evaluation pass (whole-stage codegen subexpression-eliminates
    * within an operator), so we count lines, not occurrences.
    */
  private def extractionSites(plan: String): (Int, Int) = {
    val lines = plan.linesIterator.filter(_.contains(Kernel))
      .filterNot(_.contains("Exchange")).toSeq
    val (aggLines, rowLines) = lines.partition(_.contains("Aggregate"))
    (rowLines.size, math.min(aggLines.size, 1))
  }

  private def assertSingleEvaluation(name: String, plan: String): Unit = {
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains(Kernel)),
      s"$name: $Kernel pushed into a Filter (double evaluation):\n$plan")
    val (rowSites, aggSites) = extractionSites(plan)
    assert(rowSites + aggSites === 1,
      s"$name: $Kernel must evaluate once, found row=$rowSites agg=$aggSites:\n$plan")
  }

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("every query whose plan contains the extraction kernel evaluates it " +
      "exactly once, never in a Filter") {
    val sfDir = "/root/testdata/sf0.001"
    var audited = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val plan = physicalPlan(q(spark, sfDir))
      if (plan.contains(Kernel)) {
        assertSingleEvaluation(name, plan)
        audited ::= name
      }
    }
    // regression guard on the guard: the sweep must actually see the
    // known extraction queries (w13/w16/w19/w29 return extraction plans;
    // w31's lives behind wetExportFrame, pinned below)
    val expected = Set("w13_warc_extract", "w16_warc_langs",
      "w19_html_extract10k", "w29_training_pipeline")
    assert(expected.subsetOf(audited.toSet),
      s"plan sweep lost coverage: audited=$audited")
  }

  test("w31 wetExportFrame: extraction kernel evaluates exactly once, " +
      "never in a Filter, and the null gate is in the content column") {
    val plan = physicalPlan(Warc.wetExportFrame(spark))
    assertSingleEvaluation("w31_wet_export(pre-write)", plan)
    // the old shape filtered on text AFTER projecting it; the fixed shape
    // must carry the drop-decision inside the projection itself
    assert(plan.contains("nullif") || plan.contains("if ("),
      s"w31 pre-write frame lost its in-projection null gate:\n$plan")
  }

  test("resolvePointReads: only the (url, filename, offset) hit tuple " +
      "crosses the exchange — content bytes never shuffle (extraction " +
      "happens executor-side AFTER the grouping)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val hits = s.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz)
      .filter(col("record_type") === "response")
      .select(graft.functions.WarcCols.targetUri(col("headers")).as("url"),
        col("filename"), col("offset"))
      .as[(String, String, Long)]
    // sparkPlan predates EnsureRequirements (no exchanges yet) and AQE
    // wraps executedPlan in an opaque adaptive root — pin the prepared
    // non-adaptive tree
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val exchanges =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        Warc.resolvePointReads(hits).queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(exchanges.nonEmpty, "resolver must shuffle hit tuples into " +
      "(archive, 16 MiB range) groups")
    exchanges.foreach { e =>
      val out = e.child.output
      assert(!out.exists(_.dataType ==
          org.apache.spark.sql.types.BinaryType),
        s"binary column crosses the point-read exchange: $out")
      assert(out.length <= 6,
        s"exchange row wider than the hit tuple + grouping key: $out")
    }
  }

  test("warc scan reports size statistics so a small archive side broadcasts") {
    import org.apache.spark.sql.functions._
    val warc = spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz)
      .filter(col("record_type") === "response")
      .select(col("record_id"), col("content_length"))
    // a "big" relational side: join on a derived key; without
    // estimateStatistics the V2 relation sizes as defaultSizeInBytes
    // (+inf) and this plans as a shuffle join even though the archive
    // is ~1 MB on disk
    val big = spark.range(100000)
      .select(col("id"), (col("id") % 16).as("content_length"))
    val plan = physicalPlan(big.join(warc, Seq("content_length")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small warc side did not broadcast:\n$plan")
    // and the estimate itself: envelope-only (payload pruned) must be
    // an order of magnitude below a full-payload scan of the same file
    def sizeOf(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = spark.read.format("warc")
      .load(graft.sources.BenchCorpus.FixtureGz)
      .select(col("record_id"), col("content"))
    assert(sizeOf(full) > sizeOf(warc) * 5,
      s"payload-pruned scan should size far below full scan: " +
        s"${sizeOf(warc)} vs ${sizeOf(full)}")
  }
}
