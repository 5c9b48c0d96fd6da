package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

/** End-to-end streaming drive: rate source -> watermarked windowed counts
  * -> memory sink, plus stream-static enrichment. Prints observed rows.
  * Usage: tools/run_main.sh graft.StreamDemo
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    import spark.implicits._

    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .select(col("timestamp").as("ts"), (col("value") % 5).cast("string").as("shard"))

    val dim = Seq(("0", "shard-zero"), ("1", "shard-one"), ("2", "shard-two"))
      .toDF("shard", "shard_name")

    val counts = StreamingOps.windowedCounts(
      StreamingOps.enrichStream(rate, dim, "shard"),
      "ts", "shard", watermark = "2 seconds", windowLen = "1 second")

    val q = counts.writeStream.format("memory").queryName("demo")
      .outputMode(OutputMode.Append).start()
    // let a few windows close
    Thread.sleep(8000)
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT win_start, shard, n FROM demo ORDER BY win_start, shard").collect()
    println(s"CLOSED_WINDOW_ROWS=${rows.length}")
    rows.take(10).foreach(r => println(s"WINDOW ${r.getTimestamp(0)} shard=${r.getString(1)} n=${r.getLong(2)}"))
    q.stop()
    spark.stop()
    assert(rows.nonEmpty, "no windows closed")
  }
}
