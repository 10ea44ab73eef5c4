package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Rand
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextAnalysis, Web}
import graft.sources.BenchCorpus

/** [[KernelOnce]] through `graft.GraftExtensions`, on the fixture archive:
  * the hoisted plans evaluate the extraction kernel once per row, the
  * guarded shapes are left alone, and every query returns the rows it
  * returns in a session without the extension. Each case runs with AQE
  * on and off.
  */
class KernelOnceSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private val Call = "ExtractKernels.extractPlainText("
  private val Extract = "extract_plain_text"
  private val Blocklist = "blocklist_counts"
  private val Terms = Seq("copyright", "login", "sport")

  private def pages(s: SparkSession): DataFrame =
    s.read.format("warc").load(BenchCorpus.FixtureGz).where(col("record_type") === "response")
  private def text: Column =
    Web.extractPlainText(col("http_body"), col("http_charset"), mainContent = true)

  /** The perfbench `extract` shape: extract -> token gate + blocklist ->
    * language and fingerprint -> dedup.
    */
  private def extractGate(s: SparkSession): DataFrame =
    pages(s).select(col("record_id"), text.as("text"))
      .withColumn("lang", Web.detectLang(col("text")).getField("lang"))
      .where(TextAnalysis.tokenCount(col("text")) >= 30 &&
        array_max(TextAnalysis.blocklistCounts(col("text"), Terms)) === 0L)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .dropDuplicates("fp")
      .select("text", "lang", "fp")

  /** No projection above: the Filter sits directly on the scan. */
  private def bareFilter(s: SparkSession): DataFrame =
    pages(s).where(length(text) > 200 && TextAnalysis.tokenCount(text) >= 30)

  /** A kernel (blocklist counts) over a kernel (extraction), both twice. */
  private def nested(s: SparkSession): DataFrame =
    pages(s).where(array_max(TextAnalysis.blocklistCounts(text, Terms)) === 0L &&
      element_at(TextAnalysis.blocklistCounts(text, Terms), 1) === 0L)

  /** The kernel reaches the condition only under `when`. */
  private def underWhen(s: SparkSession): DataFrame =
    pages(s).select(col("record_id"), text.as("text"))
      .where(when(col("http_charset").isNull, length(col("text")) > 100)
        .otherwise(TextAnalysis.tokenCount(col("text")) >= 30))

  /** The kernel reaches the condition only on the right of an `Or`. */
  private def orRight(s: SparkSession): DataFrame =
    pages(s).select(col("record_id"), text.as("text"))
      .where(col("http_status") === 404 || length(col("text")) > 200)

  /** One nondeterministic conjunct that evaluates the kernel twice (the
    * scan splits separate nondeterministic conjuncts into their own Filter).
    */
  private def nondeterministic(s: SparkSession): DataFrame =
    pages(s).where(length(text) * rand(7) > TextAnalysis.tokenCount(text) / 4)
      .select("record_id")

  private val cases: Map[String, SparkSession => DataFrame] = Map(
    "extractGate" -> extractGate _, "bareFilter" -> bareFilter _,
    "nested" -> nested _, "underWhen" -> underWhen _, "orRight" -> orRight _,
    "nondeterministic" -> nondeterministic _)

  private def session(extensions: Boolean): SparkSession = {
    // spark.sql.extensions is static: stop any session an earlier suite left
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").appName("kernel-once-spec")
    (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b)
      .getOrCreate()
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(rowKey).toSeq.sorted
  private def rowKey(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString(",")
    case x => String.valueOf(x)
  }.mkString("|")

  /** Kernel calls in the generated code of an executed query. */
  private def codegenCalls(df: DataFrame): Int =
    df.queryExecution.debug.codegenToSeq().map(_._2.sliding(Call.length).count(_ == Call)).sum

  private var spark: SparkSession = _
  private var expected: Map[String, Seq[String]] = _
  private var plainCalls: Map[String, Int] = _

  override def beforeAll(): Unit = {
    val plain = session(extensions = false)
    try {
      val dfs = cases.map { case (n, q) => n -> q(plain) }
      expected = dfs.map { case (n, df) => n -> sorted(df) }.toMap
      plainCalls = dfs.map { case (n, df) => n -> codegenCalls(df) }.toMap
    } finally plain.stop()
    spark = session(extensions = true)
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The kernels each operator of an executed plan holds, by operator
    * name; AQE query stages are searched too.
    */
  private final class Sites(plan: SparkPlan) {
    private val held = collect(plan) { case p =>
      p.expressions.flatMap(_.collect { case k: CostlyKernel => p.nodeName -> k })
    }.flatten
    def total(kernel: String): Int = held.count(_._2.prettyName == kernel)
    def inFilters(kernel: String): Int =
      held.count { case (node, k) => node == "Filter" && k.prettyName == kernel }
    def filterWithRand: Boolean = collect(plan) {
      case f: FilterExec => f.condition.exists(_.isInstanceOf[Rand]) &&
        f.condition.exists(_.isInstanceOf[CostlyKernel])
    }.contains(true)
    override def toString: String = plan.toString
  }

  /** Runs case `name` (AQE on and off), checks its rows against the session
    * without the extension, then hands over where its executed plan holds
    * kernels and the number of extraction calls in its generated code.
    */
  private def check(name: String)(f: (Sites, Int) => Unit): Unit =
    Seq(true, false).foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val df = cases(name)(spark)
      withClue(s"$name, AQE $aqe: ") {
        assert(sorted(df) === expected(name))
        assert(expected(name).nonEmpty)
        f(new Sites(df.queryExecution.executedPlan), codegenCalls(df))
      }
    }

  test("the perfbench extract shape calls the extraction kernel once") {
    assert(plainCalls("extractGate") === 3) // two gate conjuncts + the projection
    check("extractGate") { (plan, calls) =>
      assert(calls === 1, plan)
      assert(plan.total(Extract) === 1, plan)
      assert(plan.inFilters(Extract) === 0, plan)
    }
  }

  test("a bare filter with two kernel conjuncts has one evaluation site") {
    assert(plainCalls("bareFilter") === 2)
    check("bareFilter") { (plan, calls) =>
      assert(calls === 1, plan)
      assert(plan.total(Extract) === 1, plan)
      assert(plan.inFilters(Extract) === 0, plan)
    }
  }

  test("nested kernels are hoisted innermost first, each evaluated once") {
    assert(plainCalls("nested") === 2)
    check("nested") { (plan, calls) =>
      assert(calls === 1, plan)
      assert(plan.total(Extract) === 1, plan)
      assert(plan.total(Blocklist) === 1, plan)
      assert(plan.inFilters(Blocklist) === 0, plan)
    }
  }

  test("a kernel reached only under when(...) or the right of an Or stays put") {
    Seq("underWhen", "orRight").foreach { name =>
      check(name) { (plan, calls) =>
        assert(plan.inFilters(Extract) >= 1, plan)
        assert(plan.total(Extract) === plan.inFilters(Extract) + 1, plan) // + the projection
        assert(calls >= 2, plan)
      }
    }
  }

  test("a nondeterministic condition is left unchanged") {
    check("nondeterministic") { (plan, calls) =>
      assert(plan.filterWithRand, plan)
      assert(plan.inFilters(Extract) === 2, plan)
      assert(calls === 2, plan)
    }
  }
}
