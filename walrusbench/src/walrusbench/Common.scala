package walrusbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One end-to-end or per-layer figure as printed in the result line;
  * `samples`, when known, is printed beside it in the metric table. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/** What a workload's timed phase hands back: its metrics, the operation
  * ledger behind `attempted`/`failed`, and printable sample counts. */
final case class Outcome(
    metrics: Seq[Metric],
    attempted: Long,
    failed: Long,
    notes: Seq[String] = Nil)

/** Closed-loop operation ledger shared by client threads: every attempt
  * and every failure (error reply, exception, wrong output) lands here. */
final class Ledger {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def attempt(n: Long = 1): Unit = attemptedN.addAndGet(n)
  def fail(why: String): Unit = failures.add(why)
  /** Records a check; a false condition is one failed operation. */
  def check(ok: Boolean, why: => String): Unit = { attempt(); if (!ok) fail(why) }
  def attempted: Long = attemptedN.get
  def failed: Long = failures.size.toLong
  def firstFailures: Seq[String] = {
    val it = failures.iterator
    val out = mutable.ArrayBuffer.empty[String]
    while (it.hasNext && out.size < 5) out += it.next()
    out.toSeq
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of unsorted samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

object Fnv {
  /** FNV-1a 64 of a payload — the benchmark's own copy, so output checks
    * do not trust the library's checksum code. */
  def hash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
}

object Env {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Starts the benchmark's Spark session; every directory Spark writes to
    * lives under `work`. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("walrusbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      // report every trigger, empty ones too, to the progress listener
      .config("spark.sql.streaming.noDataProgressEventInterval", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Flushes dirty pages and collects garbage so leftover writeback and
    * heap from the previous phase do not land in the next timed one. */
  def fence(): Unit = {
    try new ProcessBuilder("sync").inheritIO().start().waitFor()
    catch { case _: java.io.IOException => }
    System.gc()
    Thread.sleep(100)
  }

  def deleteTree(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(p.toFile)
  }

  def treeBytes(p: Path): Long = {
    val st = Files.walk(p)
    try {
      var n = 0L
      st.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally st.close()
  }

  def fileCount(p: Path, suffix: String): Long = {
    val st = Files.walk(p)
    try {
      var n = 0L
      st.forEach(f => if (Files.isRegularFile(f) && f.toString.endsWith(suffix)) n += 1)
      n
    } finally st.close()
  }
}
