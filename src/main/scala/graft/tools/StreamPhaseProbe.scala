package graft.tools

/** Dev probe: phase-level timing of one streaming drive (the
  * stream_outer_join shape) to locate the stream family's fixed overhead —
  * query start vs processAllAvailable vs batch count vs sink collect.
  * Usage: sbt "runMain graft.tools.StreamPhaseProbe [sfDir]" */
object StreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.GraftSession.local()
    // warm codegen/classloading on the tiny SF first
    graft.SparkEntry.queries("stream_outer_join")(spark, "/root/testdata/sf0.001").count()
    (0 until 2).foreach { r =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries("stream_outer_join")(spark, sfDir)
      val n = df.count()
      println(f"full run $r: ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      val p = graft.streaming.StreamStateProbe.snapshot().get("stream_outer_join")
      println(s"  probe: $p")
      graft.streaming.StreamStateProbe.lastProgressJsons.forEach { j =>
        println(s"  prog: $j")
      }
    }
    spark.stop()
  }
}
