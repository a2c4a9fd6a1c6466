package walrusbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** A benchmark workload. `setup` runs several times, each time on a fresh
  * Spark session and a fresh root, and leaves the workload ready to
  * measure; `measure` runs the closed-loop phase and checks its outputs.
  * It runs once untimed for `warmSeconds` as a warm-up, then timed (three
  * times in a traced run: untraced, traced, untraced). */
trait Workload {
  def setup(spark: SparkSession, root: Path): Unit
  /** Length of the untimed warm-up phase; 0 skips it. */
  def warmSeconds: Double
  def measure(seconds: Double, tr: Tracer, root: Path): Outcome
  /** Per-layer metrics of one traced `measure`. */
  def layerMetrics(td: TraceData): Seq[Metric]
}

/** Deterministic text for the log and pipeline generators: a Zipf draw
  * over a synthetic vocabulary whose head is English stopwords. */
final class ZipfText(vocabSize: Int, s: Double) {
  private val stop = Array("the", "and", "of", "to", "is", "a", "in", "that")
  val words: Array[String] = Array.tabulate(vocabSize) { i =>
    if (i < stop.length) stop(i) else {
      val sb = new StringBuilder
      var x = i
      while ({ sb.append(('a' + x % 26).toChar); x /= 26; x > 0 }) ()
      sb.append("en").toString
    }
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _ / tot).tail
  }
  def draw(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    words(lo)
  }
  /** Words until the text reaches `len` characters (then cut to `len`). */
  def text(r: java.util.SplittableRandom, len: Int): String = {
    val sb = new StringBuilder
    while (sb.length < len) { if (sb.nonEmpty) sb.append(' '); sb.append(draw(r)) }
    sb.setLength(len)
    sb.toString
  }
}

/** Zipf choice among `n` items (rank 0 hottest). */
final class ZipfPick(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _ / tot).tail
  }
  def apply(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = cdf.indexWhere(_ >= u)
    if (i < 0) n - 1 else i
  }
}
