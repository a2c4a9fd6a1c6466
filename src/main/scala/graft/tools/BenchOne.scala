package graft.tools

/** Focused query timer for plan iteration: times the named
  * `SparkEntry.queries` entries (3 runs each, best + per-run) on
  * `SPARK_GRAFT_SF_DIR` with the same session config as [[graft.Bench]].
  * Usage: `sbt "runMain graft.tools.BenchOne dedup_pipeline sim_lsh_topk"`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq else Seq("dedup_pipeline")
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable => println(s"warm $n failed: ${e.getMessage}") }
    }
    names.foreach { n =>
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9 -> rows
      }
      val best = times.map(_._1).min
      val runs = times.map(t => f"${t._1}%.3f").mkString(", ")
      println(f"$n%-28s best=$best%7.3f  runs=$runs  rows=${times.head._2}")
    }
    spark.stop()
  }
}
