package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native header-lookup expression: codegen + interpreted parity,
  * multimap last/first semantics, SQL registration via
  * spark.sql.extensions=graft.GraftExtensions.
  */
class WarcHeaderGetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").appName("header-get-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val DataDir = graft.sources.BenchCorpus.FixtureDir

  test("last/first semantics match the HOF-composed lookups on real data") {
    import graft.functions.WarcCols
    val df = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
    val both = df.select(
      WarcCols.header(col("headers"), "WARC-Type").as("nat_last"),
      element_at(WarcCols.headerAll(col("headers"), "WARC-Type"), -1).as("hof_last"),
      WarcCols.headerFirst(col("headers"), "Content-Type").as("nat_first"),
      get(WarcCols.headerAll(col("headers"), "Content-Type"), lit(0)).as("hof_first"))
      .collect()
    assert(both.length == 50)
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getString(2) == r.getString(3))
    }
  }

  test("duplicate keys: last wins for header, first for headerFirst") {
    import graft.functions.WarcCols
    val ss = spark; import ss.implicits._
    val df = Seq(Tuple1(Seq(("X-Dup", "a"), ("x-dup", "b"), ("X-DUP", "c"))))
      .toDF("raw")
      .select(expr("transform(raw, r -> struct(r._1 AS key, r._2 AS value))").as("headers"))
    assert(df.select(WarcCols.header(col("headers"), "x-dup")).head.getString(0) == "c")
    assert(df.select(WarcCols.headerFirst(col("headers"), "X-Dup")).head.getString(0) == "a")
    assert(df.select(WarcCols.header(col("headers"), "missing")).head.isNullAt(0))
  }

  test("first=true stops at a null-valued first match (codegen == interpreted)") {
    import graft.functions.WarcCols
    // first occurrence of the key carries a NULL value; a later one doesn't.
    // headerFirst must return null from the FIRST match in both execution
    // modes, not keep scanning to the later non-null value.
    val df = spark.sql(
      """SELECT array(named_struct('key', 'k', 'value', CAST(NULL AS STRING)),
                      named_struct('key', 'K', 'value', 'later')) AS headers""")
    val withCodegen = df.select(WarcCols.headerFirst(col("headers"), "k")).head
    assert(withCodegen.isNullAt(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(WarcCols.headerFirst(col("headers"), "k")).head
      assert(interpreted.isNullAt(0))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("registered SQL functions work via the session extension") {
    spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .createOrReplaceTempView("warc_recs")
    val rows = spark.sql(
      """SELECT warc_header(headers, 'WARC-Target-URI') AS uri,
                warc_header_first(headers, 'WARC-Type') AS t
         FROM warc_recs WHERE record_type = 'response'""").collect()
    assert(rows.length == 16)
    assert(rows.forall(_.getString(1) == "response"))
    assert(rows.forall(r => r.getString(0) != null && r.getString(0).startsWith("http")))
  }

  test("expression participates in whole-stage codegen") {
    import graft.functions.WarcCols
    val df = spark.read.format("warc").load(s"$DataDir/warcfile.warc")
      .select(WarcCols.header(col("headers"), "WARC-Record-ID").as("id"))
    // the "*(n)" prefix marks a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [warc_header("), plan)
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(df.count() == 50)
  }
}
