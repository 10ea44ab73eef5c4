package graft.html
import org.apache.spark.sql.functions._
object W32Probe {
  def main(args: Array[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val rec = s.read.format("warc").load(graft.sources.BenchCorpus.FixtureGz)
      .select(col("record_date"), col("record_type"), col("content_length"))
    val w = graft.streaming.EventTime.windowedTypeCounts(rec)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("record_type"), col("n_records"), col("total_bytes"))
      .orderBy("ws", "record_type")
    w.collect().foreach(println)
    s.stop()
  }
}
