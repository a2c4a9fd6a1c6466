package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.log.{LogConfig, ReadConsistency, WalrusLog}

/** Dev micro-benchmark for the ingest hot path alone (the full harness is
  * [[graft.Bench]]). Runs the BASELINE-shaped bulk workload — 1M rows of
  * incompressible payload (BENCH_PAYLOAD_REPS × 32 B, default 768 B)
  * across 10 topics — N times and prints per-run seconds plus derived
  * rows/s and MB/s.
  *
  * Usage: sbt "runMain graft.tools.IngestBench [nRuns]"
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local()

    val reps = sys.env.getOrElse("BENCH_PAYLOAD_REPS", "24").toInt // 32B units
    val big = spark.range(1000000)
      .select(concat(lit("topic-"), (col("id") % 10).cast("string")).as("topic"),
        unhex(repeat(sha2(col("id").cast("string").cast("binary"), 256), reps)).as("value"),
        col("id").as("_seq"))
      .cache()
    big.count()
    val bytes = 1000000.0 * 32 * reps

    // topic-per-producer arrival shape (the reference bench: 10 threads,
    // one topic each): ids are contiguous per topic, so partitions are
    // topic-clustered and the arrivalOrder path needs no shuffle
    val clustered = spark.range(0, 1000000, 1, 32)
      .select(concat(lit("topic-"), (col("id") / 100000).cast("int").cast("string")).as("topic"),
        unhex(repeat(sha2(col("id").cast("string").cast("binary"), 256), reps)).as("value"),
        col("id").as("_seq"))
      .cache()
    clustered.count()

    for (mode <- Seq("clustered", "shuffle"); cw <- Seq(64)) {
      val cfg = LogConfig(compression = "uncompressed", dictionaryEncoding = false,
        concurrentWriters = cw)
      var lastLog: WalrusLog = null
      val secs = (0 until runs).map { i =>
        val root = Files.createTempDirectory(
          java.nio.file.Paths.get(sys.env.getOrElse("BENCH_ROOT_DIR", "/tmp")),
          "ingestbench-").toString
        lastLog = new WalrusLog(spark, root,
          consistency = ReadConsistency.AtLeastOnce(5000), cfg = cfg)
        val t0 = System.nanoTime()
        if (mode == "clustered") lastLog.appendDF(clustered, arrivalOrder = true)
        else lastLog.appendDF(big, Some(col("_seq")))
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$mode cw=$cw run $i: $s%.3f s  (${1000000 / s}%.0f rows/s, ${bytes / 1e6 / s}%.1f MB/s)")
        s
      }
      val drainSec = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        lastLog.toDF().select(sum(length(col("value")))).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      val srcDrainSec = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        graft.streaming.WalrusStreams.read(spark, lastLog.root)
          .select(sum(length(col("value")))).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$mode cw=$cw v2-source drain: ${1000000 / srcDrainSec}%.0f rows/s, " +
        f"${bytes / 1e6 / srcDrainSec}%.1f MB/s")
      println(f"$mode cw=$cw best ingest: ${secs.min}%.3f s = ${1000000 / secs.min}%.0f rows/s, " +
        f"${bytes / 1e6 / secs.min}%.1f MB/s; drain: ${1000000 / drainSec}%.0f rows/s, " +
        f"${bytes / 1e6 / drainSec}%.1f MB/s")
    }
    spark.stop()
  }
}
