package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.{GraftSession, Tables}

/** Structured-streaming throughput micro-bench (BASELINE.md's streaming
  * row): a rate source deliberately over-provisioned past pipeline
  * capacity drives (a) the watermarked tumbling-window aggregation
  * ([[graft.streaming.Streams.windowedEventCounts]]) and (b) gap-based
  * sessionization ([[graft.streaming.Streams.sessionize]],
  * flatMapGroupsWithState). Reported number = processed rows per second
  * aggregated over all completed batches after the bootstrap batch
  * (Σ numInputRows / Σ triggerExecution), i.e. sustained per-batch
  * capacity, not the source's configured rate.
  *
  * Usage: runMain graft.tools.StreamBench
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_STREAM_SECS (measure window/query,
  * default 20), SPARK_GRAFT_STREAM_RPS (rate-source rows/s, default 5M).
  */
object StreamBench {

  /** The completed batches a measure window holds after the bootstrap one. */
  final case class Window(rows: Long, batches: Int, ms: Long) {
    def rowsPerSec: Double = rows / (ms / 1000.0)
  }

  /** Σ numInputRows / Σ triggerExecution over the batches with input after
    * the first. A window without one holds no measurement, and reporting
    * it as 0 rows/s would read as a result, so it fails naming the query,
    * the window and the batches seen.
    */
  def window(name: String, secs: Int,
      progress: Seq[StreamingQueryProgress]): Window = {
    val useful = progress.drop(1).filter(_.numInputRows > 0)
    val w = Window(useful.map(_.numInputRows).sum, useful.size,
      useful.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong).sum)
    if (w.batches == 0 || w.ms <= 0)
      throw new IllegalStateException(
        s"$name: no completed batch with input after the bootstrap batch " +
          s"in the ${secs}s window (${progress.size} batches seen, " +
          s"${w.batches} with input after the first); raise " +
          "SPARK_GRAFT_STREAM_SECS or lower the offered rate")
    w
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "20").toInt
    val rps = sys.env.getOrElse("SPARK_GRAFT_STREAM_RPS", "5000000").toLong
    val spark = GraftSession.build(
      s"local[$cpus]", "graft-streambench", cpus.toInt)
    spark.conf.set("spark.sql.streaming.metricsEnabled", "true")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def rateEvents(users: Int): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rps.toString)
        .option("numPartitions", cpus)
        .load()
        .select(
          col("value").as("event_id"),
          col("timestamp").as("ts"),
          pmod(col("value"), lit(users)).cast("long").as("user_id"),
          concat(lit("t"), pmod(col("value"), lit(8))).as("event_type"),
          (pmod(col("value"), lit(1000)) / 10.0).as("value"))

    /** rows/s over completed post-bootstrap batches. */
    def measure(name: String, df: DataFrame, mode: String): Double = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-streambench-$name").toString
      val q = df.writeStream.outputMode(mode).format("noop")
        .option("checkpointLocation", ckpt).start()
      Thread.sleep(secs * 1000L)
      val prog = q.recentProgress.toSeq
      q.stop()
      val w = window(name, secs, prog)
      println(f"STREAMBENCH $name%-16s rows=${w.rows}%12d " +
        f"batches=${w.batches}%3d rows_per_sec=${w.rowsPerSec.toLong}%12d")
      w.rowsPerSec
    }

    val agg = measure("windowed_agg",
      graft.streaming.Streams.windowedEventCounts(
        rateEvents(users = 100000), "10 seconds", "5 seconds"),
      "update")

    val sess = measure("sessionize",
      graft.streaming.Streams.sessionize(
        rateEvents(users = 1000000)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.Streams.Event],
        gapMs = 200, watermark = "2 seconds").toDF(),
      "append")

    // streaming ANN: query vectors synthesized from the rate source
    // (64 deterministic floats per row), scored against the static
    // sf0.1 embeddings corpus through the LSH-bucket-pruned
    // stream-static join + windowed bounded-heap top-k
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val corpus = Tables.parquet(spark, s"$corpusDir/embeddings.parquet")
    // per-query work here is orders of magnitude above the row-shaped
    // pipelines above (64-float synth + bucket probe + ranked join), so
    // the ANN stream gets its own offered rate — still over-provisioned
    // past capacity, just not by 3 orders of magnitude (at 5M offered
    // the first batch never completes inside the measure window)
    val annRps = sys.env.getOrElse("SPARK_GRAFT_STREAM_ANN_RPS",
      "200000").toLong
    val rateEmb = spark.readStream.format("rate")
      .option("rowsPerSecond", annRps.toString)
      .option("numPartitions", cpus)
      .load()
      .select(col("timestamp").as("ts"), col("value").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(col("value") * 31 + d, lit(97)) / 97.0).cast("float"))
          .as("embedding"))
    val ann = measure("ann_stream",
      graft.streaming.Streams.annStream(rateEmb, corpus, k = 10,
        windowLen = "10 seconds", watermark = "5 seconds"),
      "update")

    println(s"""{"metric":"stream_rows_per_sec","windowed_agg":${agg.toLong},"sessionize":${sess.toLong},"ann_stream":${ann.toLong},"rps_offered":$rps,"ann_rps_offered":$annRps,"secs":$secs,"cpus":$cpus}""")
    spark.stop()
  }
}
