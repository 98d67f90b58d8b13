package graft.streaming

import org.apache.spark.sql.functions._

/** Replays an events parquet table as a file stream through a
  * streaming operator and prints the result — the runnable surface of
  * the streaming module:
  * `runMain graft.streaming.StreamDemo <sfDir> [sessionize|join]`
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val mode  = args.drop(1).headOption.getOrElse("sessionize")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus(4))
    import spark.implicits._

    // stage the batch table as a file-source stream (1 file per batch)
    val staging = java.nio.file.Files.createTempDirectory("stream-in").toString
    val events  = graft.Tables(spark, sfDir).events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    events.write.mode("overwrite").parquet(staging)

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .as[EventStreams.Event]

    val out = mode match {
      case "join" => EventStreams.viewPurchaseJoin(stream.toDF())
      case _      => EventStreams.sessionize(stream).toDF()
    }
    val q = out
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val result = spark.table("stream_out")
    println(s"rows=${result.count()}")
    result.show(5, truncate = false)
    q.stop()
    spark.stop()
  }
}
