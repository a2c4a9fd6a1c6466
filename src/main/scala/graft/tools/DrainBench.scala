package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.log.{LogConfig, ReadConsistency, WalrusLog}

/** Dev micro-benchmark for the two bulk DRAIN paths alone (native parquet
  * `toDF` vs the V2 `walruslog` source) with the measurement hazards
  * fenced: the ~1.5 GB just-ingested log is fsync'd out of the page-dirty
  * set (`sync`) and the heap is collected before every timed run, so the
  * timings measure the read path, not leftover writeback/GC from ingest.
  *
  * Usage: sbt "runMain graft.tools.DrainBench [nRuns]"
  */
object DrainBench {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local()

    val big = spark.range(1000000)
      .select(concat(lit("topic-"), (col("id") % 10).cast("string")).as("topic"),
        unhex(repeat(sha2(col("id").cast("string").cast("binary"), 256), 24)).as("value"),
        col("id").as("_seq"))
      .cache()
    big.count()
    val bytes = 1000000.0 * 768

    val root = Files.createTempDirectory("drainbench-").toString
    val log = new WalrusLog(spark, root,
      consistency = ReadConsistency.AtLeastOnce(5000),
      cfg = LogConfig(compression = "uncompressed", dictionaryEncoding = false))
    log.appendDF(big, Some(col("_seq")))
    big.unpersist()

    def fence(): Unit = {
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      System.gc()
    }

    // untimed warm-up of both plans (codegen + page cache)
    log.toDF().select(sum(length(col("value")))).collect()
    graft.streaming.WalrusStreams.read(spark, root)
      .select(sum(length(col("value")))).collect()

    for (r <- 0 until runs) {
      fence()
      val t0 = System.nanoTime()
      log.toDF().select(sum(length(col("value")))).collect()
      val native = (System.nanoTime() - t0) / 1e9
      fence()
      val t1 = System.nanoTime()
      graft.streaming.WalrusStreams.read(spark, root)
        .select(sum(length(col("value")))).collect()
      val v2 = (System.nanoTime() - t1) / 1e9
      println(f"run $r: native ${1000000 / native}%.0f rows/s ${bytes / 1e6 / native}%.1f MB/s" +
        f" | v2-source ${1000000 / v2}%.0f rows/s ${bytes / 1e6 / v2}%.1f MB/s")
    }
    graft.log.WalrusLog.deleteRecursively(java.nio.file.Paths.get(root))
    spark.stop()
  }
}
