package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{functions => F, DataFrame}
import org.apache.spark.sql.streaming.Trigger

/** Training run of the build's class-data archive: `Train <dir>`.
  *
  * It starts the session every run starts and does one small piece of each
  * kind of work the runs do (parquet, joins, aggregates and windows, a
  * catalog table, a windowed file-stream query with a watermark and
  * `foreachBatch`), so the Spark classes they load are in the archive that
  * every measured run maps. It reads and writes only under `<dir>`.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.session(4, dir)
    try {
      val t = spark.range(0, 20000).select(F.col("id"), (F.col("id") % 97).as("k"),
        (F.col("id") * 1.5).as("v"), F.timestamp_millis(F.col("id") * 1000).as("ts"))
      t.write.mode("overwrite").parquet(s"$dir/t")
      val p = spark.read.parquet(s"$dir/t")
      p.groupBy("k").agg(F.sum("v").as("s")).join(p, "k")
        .withColumn("r", F.rank().over(org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v")))
        .write.format("noop").mode("overwrite").save()
      p.write.mode("overwrite").saveAsTable("train_t")
      spark.sql("DROP TABLE train_t")

      Files.createDirectories(Paths.get(dir, "stream"))
      Files.writeString(Paths.get(dir, "stream", "a.jsonl"),
        (0 until 100).map(i => s"""{"k": ${i % 7}, "ts": "2024-03-01 00:0${i % 10}:00"}""").mkString("\n"))
      val schema = "k LONG, ts TIMESTAMP"
      val q = spark.readStream.schema(schema).json(s"$dir/stream")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window(F.col("ts"), "5 minutes"), F.col("k")).count()
        .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch((b: DataFrame, _: Long) => { b.collect(); () })
        .start()
      q.awaitTermination()
    } finally spark.stop()
  }
}
