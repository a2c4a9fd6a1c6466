package walrusbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work-dir <dir>`. Prints human-readable lines, then one
  * JSON result line last.
  *
  * Set-up runs three times (each on a fresh session), then an untimed
  * warm-up phase of the workload's own loop.
  * Untraced (`--trace 0`): one timed phase of `--seconds`; reports every
  * end-to-end metric.
  * Traced (`--trace 1`): the timed phase runs three times for a third of
  * the time each — untraced, traced, untraced; reports every per-layer
  * metric of the traced phase, writes the span file next to the work dir,
  * and prints layer self times and the tracing overhead (traced minus
  * untraced end-to-end values). */
object Main {
  private val SetupReps = 3
  /** The workloads BENCHMARK.json lists. */
  private val Listed = Seq("log_tail", "llm_pipeline")

  private def make(workload: String, seed: Long): Workload = workload match {
    case "log_bulk" => new LogBulk(seed)
    case "log_tail" => new LogTail(seed)
    case "llm_pipeline" => new LlmPipeline(seed)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work-dir"))
    val w = make(workload, seed)
    var spark: SparkSession = null
    val setupS = (0 until SetupReps).map { i =>
      val root = work.resolve(s"setup-$i")
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = Env.session(work)
      w.setup(spark, root)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps - 1) Env.deleteTree(root)
      s
    }
    println(f"setup runs (s): ${setupS.map(x => f"$x%.3f").mkString(" ")}")
    // untimed: the timed phase then starts on a warm JIT; its checks count
    val warm =
      if (w.warmSeconds <= 0) Outcome(Nil, 0, 0)
      else w.measure(w.warmSeconds, new Tracer(spark, on = false), work.resolve("warm"))
    println(s"warm-up: ${warm.attempted} checked operations, ${warm.failed} failed")
    report(warm.notes.filter(_.startsWith("failure")))

    val result =
      if (!trace) {
        val out = w.measure(seconds, new Tracer(spark, on = false), work.resolve("run"))
        report(out.notes)
        val e2e = Seq(Metric("setup_s", Stats.median(setupS), "s"),
          Metric("peak_rss_mb", Env.peakRssMb, "MB")) ++ out.metrics
        printTable("end-to-end", e2e)
        println(f"fail_ratio ${out.failed.toDouble / out.attempted}%.6f ratio " +
          s"(${out.failed} of ${out.attempted})")
        (out, e2e)
      } else {
        // untraced, traced, untraced: the overhead compares the traced
        // phase with the mean of its neighbours, which cancels the JIT's
        // warm-up trend across the three
        val third = seconds / 3
        val before = w.measure(third, new Tracer(spark, on = false), work.resolve("run-a"))
        report(before.notes)
        val tr = new Tracer(spark, on = true)
        val t0 = System.nanoTime()
        val traced = w.measure(third, tr, work.resolve("run-b"))
        val wallS = (System.nanoTime() - t0) / 1e9
        val td = tr.finish()
        report(traced.notes)
        val spanFile = work.getParent.resolve("traces").resolve(s"$workload-seed$seed.spans.jsonl")
        td.write(spanFile)
        println(s"span file: $spanFile (${td.spans.size} spans, ${td.jobs.size} jobs)")
        val self = td.selfTimesS
        val layers = Seq("server", "log", "sources", "streaming", "operators", "spark")
        val selfMetrics = layers.map(l => Metric(s"$l.self_s", self.getOrElse(l, 0.0), "s"))
        val own = selfMetrics ++ w.layerMetrics(td) ++ SparkTotals(td, wallS)
        // every listed workload's per-layer metrics are printed; those of
        // layers this workload does not exercise read 0
        val others = Listed.filterNot(_ == workload)
          .flatMap(make(_, seed).layerMetrics(TraceData.empty))
          .filterNot(m => own.exists(_.name == m.name)).distinctBy(_.name)
        // a layer that saw no samples in the traced phase reads 0
        val perLayer = (own ++ others)
          .map(m => if (m.value.isNaN) m.copy(value = 0.0) else m)
        val after = w.measure(third, new Tracer(spark, on = false), work.resolve("run-c"))
        report(after.notes)
        printTable("per-layer", perLayer)
        println("tracing overhead (traced - mean of the untraced phases before and after):")
        traced.metrics.zip(before.metrics.zip(after.metrics)).foreach { case (t, (a, b)) =>
          val base = (a.value + b.value) / 2
          println(f"  ${t.name}%-22s ${t.value - base}%+.4f ${t.unit} " +
            f"(${(t.value - base) / base * 100}%+.1f%%)")
        }
        val all = Seq(before, traced, after)
        (Outcome(Nil, all.map(_.attempted).sum, all.map(_.failed).sum), perLayer)
      }
    spark.stop()
    Env.deleteTree(work.resolve(s"setup-${SetupReps - 1}"))
    val (timed, metrics) = result
    val out = Outcome(Nil, timed.attempted + warm.attempted, timed.failed + warm.failed)
    val correct = out.failed == 0 && metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val body = metrics.map(m =>
      s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{$body}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def report(notes: Seq[String]): Unit = notes.foreach(println)

  private def printTable(title: String, ms: Seq[Metric]): Unit = {
    println(s"$title metrics:")
    ms.foreach(m => println(f"  ${m.name}%-36s ${m.value}%14.4f ${m.unit}" +
      (if (m.samples > 0) s"  (n=${m.samples})" else "")))
  }
}

/** The `spark.*` per-layer metrics: runtime totals over every job the
  * traced phase caused. */
object SparkTotals {
  def apply(td: TraceData, wallS: Double): Seq[Metric] = {
    val jobs = td.jobsBySpan.values.flatten.toSeq.distinct
    val t = td.totalsOf(jobs)
    val execs = td.execsOf(jobs)
    Seq(
      Metric("spark.jobs", jobs.size.toDouble, "count"),
      Metric("spark.stages", jobs.map(_.stages.size).sum.toDouble, "count"),
      Metric("spark.tasks", t.tasks.toDouble, "count"),
      Metric("spark.plan_ms", execs.map(_.planMs).sum, "ms"),
      Metric("spark.task_cpu_s", t.cpuNs / 1e9, "s"),
      Metric("spark.sched_delay_s", t.schedMs / 1e3, "s"),
      Metric("spark.gc_s", t.gcMs / 1e3, "s"),
      Metric("spark.shuffle_mb", (t.shuffleWrite + t.shuffleRead) / 1e6, "MB"),
      Metric("spark.spill_mb", t.spill / 1e6, "MB"),
      Metric("spark.busy_ratio", t.runMs / 1e3 / (wallS * Env.cores), "ratio"))
  }
}
