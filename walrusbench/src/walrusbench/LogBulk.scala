package walrusbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.log.WalrusLog
import graft.streaming.WalrusStreams

/** Per-topic drain totals: rows, offset min/max/sum, payload bytes, and
  * the 32-bit halves of the summed FNV-1a checksums (split so the sums
  * cannot overflow). */
final case class TopicTotals(rows: Long, minOff: Long, maxOff: Long,
    sumOff: Long, bytes: Long, fnvLo: Long, fnvHi: Long) {
  def +(o: TopicTotals): TopicTotals = TopicTotals(rows + o.rows,
    math.min(minOff, o.minOff), math.max(maxOff, o.maxOff), sumOff + o.sumOff,
    bytes + o.bytes, fnvLo + o.fnvLo, fnvHi + o.fnvHi)
}

/** `log_bulk`: large incompressible payloads. Each round commits
  * `commitsPerRound` `appendDF` batches into a fresh log, alternating the
  * topic-clustered arrival-order path (one producer partition per topic,
  * as in walrus's 10-producer/10-topic write bench) and the interleaved
  * seq path (an RDD-backed input with unknown size, so the range-shuffle
  * path), then drains the log fully twice: a DSv2 batch read and an
  * AvailableNow stream. Rounds repeat until the time is up; each figure is
  * the median over rounds. */
final class LogBulk(seed: Long) extends Workload {
  private val nTopics = 10
  private val payloadBytes = 768
  private val rowsPerCommit = 100000
  private val commitsPerRound = 2
  private var spark: SparkSession = _
  private var clustered: DataFrame = _
  private var interleaved: DataFrame = _
  private var expected: Map[String, TopicTotals] = Map.empty

  private val schema = StructType(Seq(StructField("topic", StringType),
    StructField("value", BinaryType), StructField("seq", LongType)))

  /** Seeded random payload rows. Clustered: partition p holds topic p
    * only; interleaved: every row draws its topic uniformly. */
  private def rows(rows: Int, clusteredTopics: Boolean, salt: Long): RDD[Row] = {
    val parts = if (clusteredTopics) nTopics else Env.cores
    val per = rows / parts
    val (s, n, len) = (seed, nTopics, payloadBytes)
    spark.sparkContext.parallelize(0 until parts, parts).mapPartitionsWithIndex { (pid, _) =>
      val r = new java.util.SplittableRandom(s * 1000003L + salt * 7919L + pid)
      Iterator.tabulate(per) { i =>
        val b = new Array[Byte](len)
        r.nextBytes(b)
        val t = if (clusteredTopics) pid else r.nextInt(n)
        Row(s"bulk-$t", b, pid.toLong * per + i)
      }
    }
  }

  /** The generator's own per-topic totals of one input (offsets excluded:
    * they are the log's to assign). */
  private def totalsOf(df: DataFrame): Map[String, TopicTotals] =
    df.rdd.map { r =>
      val v = r.getAs[Array[Byte]](1)
      val h = Fnv.hash(v)
      r.getString(0) -> TopicTotals(1, 0, 0, 0, v.length, h & 0xffffffffL, h >>> 32)
    }.reduceByKey(_ + _).collect().toMap

  private def inputs(n: Int, salt: Long): (DataFrame, DataFrame) = {
    val c = spark.createDataFrame(rows(n, clusteredTopics = true, salt), schema)
      .persist(StorageLevel.MEMORY_ONLY)
    val iRdd = rows(n, clusteredTopics = false, salt + 1).persist(StorageLevel.MEMORY_ONLY)
    val i = spark.createDataFrame(iRdd, schema)
    c.count(); iRdd.count()
    (c, i)
  }

  private def commit(log: WalrusLog, k: Int, c: DataFrame, i: DataFrame): Unit =
    if (k % 2 == 0) log.appendDF(c.select("topic", "value"), arrivalOrder = true)
    else log.appendDF(i, seqCol = Some(col("seq")))

  private def totalsFrom(df: DataFrame): Map[String, TopicTotals] =
    df.groupBy("topic").agg(count(lit(1)), min("offset"), max("offset"),
      sum("offset"), sum(length(col("value")).cast("long")),
      sum(col("checksum").bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(col("checksum"), 32)))
      .collect().map(r => r.getString(0) -> TopicTotals(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap

  private def batchDrain(root: String): Map[String, TopicTotals] =
    totalsFrom(WalrusStreams.read(spark, root))

  private def streamDrain(root: String, ckpt: String, tr: Tracer): Map[String, TopicTotals] = {
    val acc = mutable.Map.empty[String, TopicTotals]
    val q = WalrusStreams.readStream(spark, root).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        totalsFrom(df).foreach { case (t, v) =>
          acc(t) = acc.get(t).map(_ + v).getOrElse(v)
        }
        ()
      }.start()
    tr.adoptStream(q.runId.toString)
    q.awaitTermination()
    acc.toMap
  }

  /** Set-up already commits and drains a tenth-size input. */
  val warmSeconds = 0.0

  def setup(s: SparkSession, root: Path): Unit = {
    spark = s
    val (c, i) = inputs(rowsPerCommit / 10, salt = 99)
    val log = new WalrusLog(spark, root.resolve("log").toString)
    (0 until 2).foreach(k => commit(log, k, c, i))
    batchDrain(root.resolve("log").toString)
    streamDrain(root.resolve("log").toString, root.resolve("ckpt").toString,
      new Tracer(spark, on = false))
    log.close()
    c.unpersist(); i.rdd.unpersist()
    clustered = null
  }

  /** Generates the timed inputs once per session (untimed). */
  private def prepare(): Unit = if (clustered == null) {
    val (c, i) = inputs(rowsPerCommit, salt = 1)
    clustered = c; interleaved = i
    val ce = totalsOf(c); val ie = totalsOf(i)
    expected = (ce.keySet ++ ie.keySet).map { t =>
      val z = TopicTotals(0, 0, 0, 0, 0, 0, 0)
      val one = ce.getOrElse(t, z) + ie.getOrElse(t, z)
      t -> Seq.fill(commitsPerRound / 2)(one).reduce(_ + _)
    }.toMap
  }

  private final case class Round(ingestS: Double, drainS: Double, catchupS: Double,
      bytes: Long, logBytes: Long, files: Long)
  private val rounds = mutable.ArrayBuffer.empty[Round]

  def measure(seconds: Double, tr: Tracer, root: Path): Outcome = {
    prepare()
    val ledger = new Ledger
    rounds.clear()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (rounds.isEmpty || System.nanoTime() < deadline) {
      val dir = root.resolve(s"round-$k")
      val logRoot = dir.resolve("log").toString
      val log = new WalrusLog(spark, logRoot)
      Env.fence()
      var ingestNs = 0L
      (0 until commitsPerRound).foreach { j =>
        ledger.attempt()
        val t0 = System.nanoTime()
        try tr.span("log.append_df", "log")(commit(log, j, clustered, interleaved))
        catch { case e: Exception => ledger.fail(s"appendDF: $e") }
        ingestNs += System.nanoTime() - t0
      }
      Env.fence()
      ledger.attempt()
      val d0 = System.nanoTime()
      val drained = tr.span("sources.drain", "sources")(batchDrain(logRoot))
      val drainNs = System.nanoTime() - d0
      Env.fence()
      ledger.attempt()
      val c0 = System.nanoTime()
      val streamed = tr.span("streaming.catchup", "streaming")(
        streamDrain(logRoot, dir.resolve("ckpt").toString, tr))
      val catchupNs = System.nanoTime() - c0
      // output checks
      expected.foreach { case (t, e) =>
        val got = drained.get(t)
        ledger.check(got.exists(g => g.rows == e.rows && g.bytes == e.bytes &&
          g.fnvLo == e.fnvLo && g.fnvHi == e.fnvHi),
          s"$t drained ${got.map(_.rows)} rows / checksums differ from the generator's")
        ledger.check(got.exists(g => g.minOff == 0 && g.maxOff == g.rows - 1 &&
          g.sumOff == g.rows * (g.rows - 1) / 2), s"$t offsets not dense from 0: $got")
      }
      ledger.check(drained.keySet == expected.keySet, s"drained topics ${drained.keySet}")
      ledger.check(streamed == drained, "stream drain differs from batch drain")
      val bytes = expected.valuesIterator.map(_.bytes).sum
      rounds += Round(ingestNs / 1e9, drainNs / 1e9, catchupNs / 1e9, bytes,
        Env.treeBytes(dir.resolve("log")), Env.fileCount(dir.resolve("log"), ".parquet"))
      log.close()
      Env.deleteTree(dir)
      k += 1
    }
    def rate(f: Round => Double) = Stats.median(rounds.map(r => r.bytes / 1e6 / f(r)))
    Outcome(
      Seq(Metric("latency_p50_ms",
          Stats.median(rounds.map(_.ingestS * 1e3 / commitsPerRound)), "ms", rounds.size),
        Metric("throughput",
          Stats.median(rounds.map(commitsPerRound * rowsPerCommit / _.ingestS)), "1/s", rounds.size)),
      ledger.attempted, ledger.failed,
      Seq(f"MB/s: ingest ${rate(_.ingestS)}%.1f drain ${rate(_.drainS)}%.1f " +
        f"catchup ${rate(_.catchupS)}%.1f",
        s"rounds: ${rounds.size} x $commitsPerRound commits of $rowsPerCommit x " +
        s"$payloadBytes B; per round ingest/drain/catchup s: " +
        rounds.map(r => f"${r.ingestS}%.2f/${r.drainS}%.2f/${r.catchupS}%.2f").mkString(" ")) ++
        ledger.firstFailures.map("failure: " + _))
  }

  def layerMetrics(td: TraceData): Seq[Metric] = {
    val byName = td.spans.groupBy(_.name)
    val appends = byName.getOrElse("log.append_df", Nil)
    val drains = byName.getOrElse("sources.drain", Nil)
    val catchups = byName.getOrElse("streaming.catchup", Nil)
    val drainJobs = drains.flatMap(td.jobsOf)
    val drainTot = td.totalsOf(drainJobs)
    val appendTot = td.totalsOf(appends.flatMap(td.jobsOf))
    val triggers = catchups.flatMap(c => td.spans.filter(s => s.parent == c.id))
    val trigRecs = td.triggers
    val payload = rounds.map(_.bytes).sum.toDouble
    Seq(
      Metric("log.append_df.wall_s", appends.map(_.durNs).sum / 1e9 / appends.size, "s"),
      Metric("log.append_df.jobs", appends.map(td.jobsOf(_).size).sum.toDouble / appends.size, "count"),
      Metric("log.append_df.task_cpu_s", appendTot.cpuNs / 1e9 / appends.size, "s"),
      Metric("log.append_df.shuffle_write_mb", appendTot.shuffleWrite / 1e6 / appends.size, "MB"),
      Metric("log.append_df.driver_ms", appends.map(td.driverNs).sum / 1e6 / appends.size, "ms"),
      Metric("log.write_amp", rounds.map(_.logBytes).sum / payload, "ratio"),
      Metric("log.files_per_commit",
        rounds.map(_.files).sum.toDouble / (rounds.size * commitsPerRound), "count"),
      Metric("log.commits", appends.size.toDouble, "count"),
      Metric("sources.drain.wall_s", drains.map(_.durNs).sum / 1e9 / drains.size, "s"),
      Metric("sources.drain.plan_ms",
        td.execsOf(drainJobs).map(_.planMs).sum / drains.size, "ms"),
      Metric("sources.drain.tasks", drainTot.tasks.toDouble / drains.size, "count"),
      Metric("sources.drain.task_cpu_s", drainTot.cpuNs / 1e9 / drains.size, "s"),
      Metric("sources.drain.rows_read",
        td.execsOf(drainJobs).map(_.metrics.getOrElse("scan.numOutputRows", 0L)).sum.toDouble /
          drains.size, "rows"),
      Metric("sources.drain.input_mb", drainTot.inputBytes / 1e6 / drains.size, "MB"),
      Metric("streaming.catchup.triggers", triggers.size.toDouble / catchups.size, "count"),
      Metric("streaming.catchup.add_batch_s",
        trigRecs.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3 / catchups.size, "s"),
      Metric("streaming.catchup.wal_commit_ms",
        trigRecs.map(_.durations.getOrElse("walCommit", 0L)).sum.toDouble / catchups.size, "ms"))
  }
}
