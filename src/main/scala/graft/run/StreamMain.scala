package graft.run

import graft.sources.FileJsonTableSource
import graft.sources.PipelineTable.{Geo, Pin, User}
import graft.streaming.StreamPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming driver — the reference's Kinesis notebook as a `main()`
  * (SURVEY.md §3.3): three concurrent checkpointed queries consume the
  * landed topic layout as an unbounded file source (new files = new
  * micro-batches), apply the shared cleaning behind the all-null guard,
  * and append parquet.
  *
  * `--once` processes everything available then exits (cron-able
  * catch-up, Trigger.AvailableNow); default runs continuously.
  *
  * Usage: StreamMain <landedBaseDir> <outDir> [--once]
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir) = args.take(2)
    val once = args.contains("--once")
    val spark = graft.Sessions.build("graft-stream")
    val trigger =
      if (once) Trigger.AvailableNow() else Trigger.ProcessingTime("10 seconds")
    val queries = start(spark, baseDir, outDir, trigger)
    if (once) queries.foreach(_.awaitTermination())
    else spark.streams.awaitAnyTermination()
    spark.stop()
  }

  /** Start the pin, geo and user queries: read the landed topic, drop
    * all-null payload rows (the P9 guard the reference applies at
    * Kinesis_Processing.ipynb:848-849), clean, and append to
    * `outDir/data/<table>` with a per-query checkpoint. */
  def start(spark: SparkSession, baseDir: String, outDir: String,
      trigger: Trigger): Seq[StreamingQuery] = {
    // the transport seam (SURVEY §7.1.2): swap FileJsonTableSource for
    // KafkaTableSource(bootstrap, prefix) and nothing downstream changes
    val source = FileJsonTableSource(baseDir)
    Seq(
      Pin -> StreamPipeline.cleanPinStream _,
      Geo -> StreamPipeline.cleanGeoStream _,
      User -> StreamPipeline.cleanUserStream _).map { case (table, clean) =>
      StreamPipeline.writeStream(
        clean(source.readStream(spark, table)), outDir, table.name, trigger)
    }
  }
}
