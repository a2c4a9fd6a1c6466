package graft.tools

/** Scratch: replay the bench's sweep loop for the named family prefixes
  * (alphabetical order, GC discipline identical to graft.Bench) at
  * SPARK_GRAFT_SF_DIR — used to isolate late-sweep inflation. */
object FamilySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val fams = args.toSet
    graft.SparkEntry.warmup(spark, sfDir)
    val warmDir = "/root/testdata/sf0.001"
    graft.SparkEntry.warmup(spark, warmDir)
    val sel = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => fams.contains(n.takeWhile(_ != '_')) }
    sel.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    def jvmStats(tag: String): Unit = {
      val rt = Runtime.getRuntime
      val cl = java.lang.management.ManagementFactory.getClassLoadingMXBean
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val gcs = scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans).asScala
      println(f"[jvm] $tag used=${(rt.totalMemory - rt.freeMemory) / 1e9}%.2fG " +
        f"classes=${cl.getLoadedClassCount} jitMs=${jit.getTotalCompilationTime} " +
        f"gcMs=${gcs.map(_.getCollectionTime).sum} threads=${Thread.activeCount}")
      val tg = Thread.currentThread.getThreadGroup
      var root = tg; while (root.getParent != null) root = root.getParent
      val arr = new Array[Thread](root.activeCount * 2)
      val n = root.enumerate(arr, true)
      val hist = arr.take(n).filter(_ != null).map(_.getName.replaceAll("[0-9]+", "#"))
        .groupBy(identity).map { case (k, v) => (v.length, k) }.toSeq.sorted.reverse
      hist.take(15).foreach { case (c, name) => println(f"[thr] $c%5d $name") }
    }
    var prevFamily = ""
    val results = sel.map { case (name, fn) =>
      val family = name.takeWhile(_ != '_')
      if (family != prevFamily) {
        prevFamily = family
        System.gc(); System.gc(); Thread.sleep(2000); System.gc()
        jvmStats(s"before $family")
      } else if (family == "stream") System.gc()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    results.foreach { case (n, s) => println(f"[fam] $n%-32s $s%7.3f") }
    println(f"[fam] TOTAL ${results.map(_._2).sum}%.2f s for ${results.size} queries")
    spark.stop()
  }
}
