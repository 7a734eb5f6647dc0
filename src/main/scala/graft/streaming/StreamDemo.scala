package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Harness, Tables}

/** SURVEY.md §2.9 T1+T8 end-to-end: the reference's timer-triggered
  * micro-batch run (function.json:6) as a real file-source streaming query —
  * `readStream` over the events parquet, `Trigger.AvailableNow` (process
  * everything pending, then stop: the batch-cron execution model), windowed
  * aggregation, and an idempotent `foreachBatch` sink that anti-joins each
  * batch against already-written keys (database.py:116-123 set-wise).
  *
  * Run: sbt "runMain graft.streaming.StreamDemo <sfDir> <outDir>"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-stream-demo")
    val spark = Harness.session()
    val n = run(spark, sfDir, s"$outDir/daily", s"$outDir/chk")
    println(s"[stream-demo] wrote $n daily-count rows to $outDir/daily")  // scalastyle:ignore
    spark.stop()
  }

  /** Returns the number of rows in the sink after the run (idempotent: a
    * second run appends nothing). */
  def run(spark: SparkSession, sfDir: String, sinkPath: String, chkPath: String): Long = {
    // the file stream source wants a DIRECTORY of arriving files — stage the
    // events parquet into one (models the reference's daily file drops)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      srcDir.resolve("events.parquet"))
    // raw footer schema (nanos-long or TIMESTAMP_NTZ depending on the
    // generator's encoding) — ts normalizes below, same as Tables.events
    val schema = Tables.table(spark, sfDir, "events").schema
    val stream = Tables.convertEventTs(
      spark.readStream
        .schema(schema)
        .parquet(srcDir.toString))
    val daily = StreamOps.tumblingCounts(stream)
    val q = daily.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .option("checkpointLocation", chkPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the reference's probe-before-insert (database.py:116-123), set-wise:
        // anti-join the batch against already-written keys, append survivors
        // explicit existence test, not a catch-all (r10 review: swallowing
        // ANY read failure — corrupt file, FS hiccup — as "first batch"
        // appended duplicates and broke the documented idempotence).
        // Resolved through the Hadoop FileSystem API, not java.nio (r10
        // ADVICE): with an hdfs:// or s3a:// sinkPath, Files.exists is
        // always false, so every batch would be treated as the first and
        // append duplicates — silently breaking the same idempotence.
        val sinkHPath = new org.apache.hadoop.fs.Path(sinkPath)
        val sinkFs = sinkHPath.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        val deduped =
          if (!sinkFs.exists(sinkHPath))
            batch // first batch: nothing written yet
          else {
            val existing = spark.read.parquet(sinkPath)
              .select("day_start", "event_type")
            batch.join(existing, Seq("day_start", "event_type"), "left_anti")
          }
        deduped.write.mode(SaveMode.Append).parquet(sinkPath)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(sinkPath).count()
  }
}
