package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native extract_plain_text / detect_lang Catalyst expressions:
  * parity with the library kernels, null semantics (null body -> null,
  * null charset -> auto-detect), no UDF island in the plan, and the
  * MemGuard error-column doctrine of the guarded variant.
  */
class ExtractExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").appName("extract-exprs-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val DataDir = graft.sources.BenchCorpus.FixtureDir

  test("expression output matches the kernel on real pages, incl. null charset") {
    val rows = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .filter(col("record_type") === "response")
      .select(col("http_body"), col("http_charset"),
        graft.functions.Web.extractPlainText(col("http_body"), col("http_charset"))
          .as("extracted"))
      .collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val body = r.getAs[Array[Byte]]("http_body")
      val cs = r.getAs[String]("http_charset") // null for many fixtures
      val expected = graft.html.Html2Text.extractFromHtml(
        graft.html.HtmlTree.decodeForParse(body, cs),
        graft.html.Html2Text.Options())
      assert(r.getAs[String]("extracted") == expected)
    }
  }

  test("interpreted eval matches codegen and nulls short-circuit") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Option("<p>hi there</p>".getBytes("utf-8")), Option("utf-8")),
      (Option("<p>auto detect</p>".getBytes("utf-8")), None: Option[String]),
      (None: Option[Array[Byte]], Option("utf-8")))
      .toDF("body", "cs")
    val expr = graft.functions.Web.extractPlainText(col("body"), col("cs"))
    val out = df.select(expr.as("t")).collect().map(_.getAs[String]("t"))
    assert(out(0) == "hi there")
    assert(out(1) == "auto detect") // null charset still extracts
    assert(out(2) == null)          // null body -> null
    // interpreted path (no codegen) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    val e = ExtractPlainTextExpr(
      Literal("<p>x y</p>".getBytes("utf-8")),
      Literal(null, StringType),
      mainContent = false, maxNodes = Int.MaxValue)
    assert(e.eval(null).toString == "x y")
  }

  test("w13/w19-shaped plans carry no UDF island") {
    val plan = spark.read.format("warc").load(s"$DataDir/warcfile.warc.gz")
      .filter(col("record_type") === "response")
      .select(
        length(graft.functions.Web.extractPlainText(col("http_body"), col("http_charset")))
          .as("full_len"),
        graft.functions.Web.detectLang(
          graft.functions.Web.extractPlainText(col("http_body"), col("http_charset")))
          .getField("lang").as("lang"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("), plan)
    assert(plan.contains("extract_plain_text"))
  }

  test("detect_lang expression matches the kernel") {
    val s = spark
    import s.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog and runs home",
      "der schnelle braune fuchs springt über den faulen hund im wald")
    val out = texts.toDF("t")
      .select(graft.functions.Web.detectLang(col("t")).as("d"))
      .collect().map(r => (r.getStruct(0).getString(0), r.getStruct(0).getInt(1)))
    assert(out.toSeq == texts.map(graft.core.LangDetect.detectFast(_)))
  }

  test("guarded extraction surfaces a MemGuard breach as an error column") {
    val s = spark
    import s.implicits._
    val bomb = ("<table>" + "<tr><td>x</td><td>y</td></tr>" * 33000).getBytes("utf-8")
    val ok = "<p>fine</p>".getBytes("utf-8")
    val out = Seq((1L, bomb), (2L, ok)).toDF("id", "body")
      .select(col("id"), graft.functions.Web.extractPlainTextGuarded(
        col("body"), lit(null).cast("string"), maxNodes = 10000).as("g"))
      .select(col("id"), col("g.text").as("text"), col("g.error").as("error"))
      .orderBy(col("id"))
      .collect()
    assert(out(0).getAs[String]("text") == null)
    assert(out(0).getAs[String]("error").contains("mem guard"))
    assert(out(1).getAs[String]("text") == "fine")
    assert(out(1).getAs[String]("error") == null)
    // and the unguarded expression degrades to null, never a task failure
    val n = Seq(Tuple1(bomb)).toDF("body")
      .select(graft.functions.Web.extractPlainText(
        col("body"), lit(null).cast("string"), maxNodes = 10000).as("t"))
      .collect()(0).getAs[String]("t")
    assert(n == null)
  }

  test("DEFAULT path is guarded: a DOM bomb over the default budget -> null row") {
    val s = spark
    import s.implicits._
    // comfortably > DefaultMaxNodes DOM nodes (each repetition is at
    // least tr+td+td, however text nodes are counted)
    val reps = graft.functions.Web.DefaultMaxNodes / 2
    val bomb = ("<table>" + "<tr><td>x</td><td>y</td></tr>" * reps).getBytes("utf-8")
    val out = Seq((1L, bomb), (2L, "<p>fine</p>".getBytes("utf-8"))).toDF("id", "body")
      .select(col("id"), graft.functions.Web.extractPlainText(
        col("body"), lit(null).cast("string")).as("t")) // no maxNodes arg: default
      .orderBy(col("id"))
      .collect()
    assert(out(0).getAs[String]("t") == null)      // bomb -> null, not an OOM
    assert(out(1).getAs[String]("t") == "fine")    // real page unaffected
  }
}
