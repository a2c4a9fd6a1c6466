package walrusbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.log.WalrusLog
import graft.server.WalrusServer
import graft.streaming.WalrusStreams

/** Framed TCP client of the 5-command shim, one persistent connection. */
final class ShimClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new DataOutputStream(sock.getOutputStream)
  private val in = new DataInputStream(sock.getInputStream)
  def call(cmd: String): String = {
    val b = cmd.getBytes(UTF_8)
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(b.length).array())
    out.write(b); out.flush()
    val lb = new Array[Byte](4)
    in.readFully(lb)
    val body = new Array[Byte](ByteBuffer.wrap(lb).order(ByteOrder.LITTLE_ENDIAN).getInt)
    in.readFully(body)
    new String(body, UTF_8)
  }
  def close(): Unit = sock.close()
}

/** Everything the tail's stream sink has seen: arrival time per entry key,
  * and the (topic, offset) each key landed at. Checks order and
  * exactly-once delivery as micro-batches arrive. */
final class TailSink(ledger: Ledger) {
  val arrivalNs = new ConcurrentHashMap[String, java.lang.Long]
  val offsetOf = new ConcurrentHashMap[String, (String, Long)]
  private val nextOffset = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile var batches = 0L

  def add(rows: Array[(String, Long, String)], now: Long): Unit = synchronized {
    batches += 1
    rows.groupBy(_._1).foreach { case (topic, rs) =>
      rs.sortBy(_._2).foreach { case (_, off, key) =>
        if (off != nextOffset(topic))
          ledger.fail(s"sink: $topic offset $off arrived, expected ${nextOffset(topic)}")
        nextOffset(topic) = off + 1
        if (arrivalNs.putIfAbsent(key, now) != null) ledger.fail(s"sink: duplicate $key")
        offsetOf.put(key, (topic, off))
      }
    }
  }
  def seen(topic: String): Long = synchronized(nextOffset(topic))
}

/** `log_tail`: small entries written beside reads on one log with the
  * library-default StrictlyAtOnce consistency. Three closed-loop clients —
  * a TCP PUT client, a TCP GET client that sends STATE/METRICS every
  * `ctlEvery`-th op, an embedded `batchAppend` producer that vacuums every
  * `vacuumEvery` commits — while a 200 ms micro-batch stream tails every
  * topic into a sink that records arrival time. */
final class LogTail(seed: Long) extends Workload {
  private val nTopics = 8
  private val topics = (0 until nTopics).map(i => s"tail-$i")
  private val batchSize = 64
  private val ctlEvery = 4
  private val vacuumEvery = 4
  private val text = new ZipfText(2000, 1.0)
  private val topicPick = new ZipfPick(nTopics, 1.1)
  private var spark: SparkSession = _

  /** Entry payload: creation stamp, unique key, then 64-512 B of text in
    * total. */
  private def payload(r: java.util.SplittableRandom, key: String): String = {
    val head = s"${System.nanoTime()} $key "
    head + text.text(r, 64 + r.nextInt(449) - head.length max 1)
  }
  private def keyOf(p: String): String = p.split(" ", 3)(1)
  private def stampOf(p: String): Long = p.substring(0, p.indexOf(' ')).toLong

  /** A running tail session: log, two server instances (one per TCP client,
    * each created under its own job group so the traced run can attribute
    * their Spark jobs), and the tailing stream. */
  private final class Session(root: Path, ledger: Ledger) {
    val log = new WalrusLog(spark, root.resolve("log").toString)
    private val sc = spark.sparkContext
    private def serverIn(group: String): WalrusServer = {
      sc.setJobGroup(group, group)
      try new WalrusServer(log) finally sc.clearJobGroup()
    }
    val putServer: WalrusServer = serverIn("srv-put")
    val getServer: WalrusServer = serverIn("srv-get")
    val sink = new TailSink(ledger)
    val query: StreamingQuery =
      WalrusStreams.readStream(spark, root.resolve("log").toString)
        .select(col("topic"), col("offset"), col("value").cast("string").as("v"))
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.ProcessingTime(WalrusStreams.DefaultTriggerMs))
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().map(r =>
            (r.getString(0), r.getLong(1), keyOf(r.getString(2))))
          sink.add(rows, System.nanoTime())
          ()
        }.start()
    def close(): Unit = {
      query.stop()
      putServer.close(); getServer.close()
      log.close()
    }
  }

  /** The first seconds of a tail on a fresh JVM ran up to 1.7× slower than
    * later ones (measured with the tiered JIT). */
  val warmSeconds = 10.0

  def setup(s: SparkSession, root: Path): Unit = {
    spark = s
    val ledger = new Ledger
    val sess = new Session(root, ledger)
    try {
      val r = new java.util.SplittableRandom(seed ^ 0x5e7L)
      val put = new ShimClient(sess.putServer.boundPort)
      val get = new ShimClient(sess.getServer.boundPort)
      try {
        for (i <- 0 until 2) {
          val t = topics(i)
          put.call(s"PUT $t ${payload(r, s"w$i")}")
          sess.log.batchAppend(t, (0 until batchSize).map(j =>
            payload(r, s"wb$i-$j").getBytes(UTF_8)))
          get.call(s"GET $t"); get.call(s"STATE $t"); get.call("METRICS")
        }
      } finally { put.close(); get.close() }
      val deadline = System.nanoTime() + 30000000000L
      while (sess.sink.arrivalNs.size < 2 * (batchSize + 1) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sess.close()
  }

  def measure(seconds: Double, tr: Tracer, root: Path): Outcome = {
    val ledger = new Ledger
    val sess = new Session(root, ledger)
    val putNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val getNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val stateNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val metricsNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val batchNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val vacuumNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    var reclaimed = 0L
    // acknowledged commits: first entry key -> creation stamp; all keys
    val ackFirst = new ConcurrentHashMap[String, java.lang.Long]
    val ackKeys = new ConcurrentHashMap[String, String] // key -> topic
    // GET deliveries per topic, in order
    val delivered = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    val getCursor = new ConcurrentHashMap[String, java.lang.Long]
    val getLock = new ReentrantReadWriteLock()
    var vacuumSkipped = 0L

    Env.fence()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong

    def timed(q: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long])(f: => Unit): Unit = {
      val s = System.nanoTime()
      f
      q.add(System.nanoTime() - s)
    }

    val putter = new Thread(() => {
      val r = new java.util.SplittableRandom(seed * 31 + 1)
      val c = new ShimClient(sess.putServer.boundPort)
      try {
        var i = 0L
        while (System.nanoTime() < deadline) {
          val t = topics(topicPick(r))
          val key = s"p$i"
          val p = payload(r, key)
          ledger.attempt()
          val s = System.nanoTime()
          val reply = try c.call(s"PUT $t $p") catch { case e: Exception => s"EXC $e" }
          val e = System.nanoTime()
          putNs.add(e - s)
          tr.record("server.put", "server", s, e, "srv-put")
          if (reply == "OK") { ackFirst.put(key, stampOf(p)); ackKeys.put(key, t) }
          else ledger.fail(s"PUT: $reply")
          i += 1
        }
      } finally c.close()
    }, "wb-put")

    val getter = new Thread(() => {
      val c = new ShimClient(sess.getServer.boundPort)
      try {
        var i = 0L
        while (System.nanoTime() < deadline) {
          val t = topics((i % nTopics).toInt)
          ledger.attempt()
          if (i % ctlEvery == ctlEvery - 1) {
            val metrics = (i / ctlEvery) % 2 == 1
            val s = System.nanoTime()
            val reply = try c.call(if (metrics) "METRICS" else s"STATE $t")
              catch { case e: Exception => s"EXC $e" }
            val e = System.nanoTime()
            (if (metrics) metricsNs else stateNs).add(e - s)
            tr.record(if (metrics) "server.metrics" else "server.state", "server", s, e, "srv-get")
            if (!reply.startsWith("OK {")) ledger.fail(s"STATE/METRICS: $reply")
          } else {
            getLock.readLock().lock()
            val (s, e, reply) = try {
              val s = System.nanoTime()
              val reply = try c.call(s"GET $t") catch { case e: Exception => s"EXC $e" }
              val e = System.nanoTime()
              if (reply.startsWith("OK ")) {
                delivered.synchronized(
                  delivered.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += keyOf(reply.substring(3)))
                getCursor.merge(t, 1L, (a, b) => a + b)
              }
              (s, e, reply)
            } finally getLock.readLock().unlock()
            getNs.add(e - s)
            tr.record("server.get", "server", s, e, "srv-get")
            if (reply != "EMPTY" && !reply.startsWith("OK ")) ledger.fail(s"GET: $reply")
          }
          i += 1
        }
      } finally c.close()
    }, "wb-get")

    val producer = new Thread(() => {
      val r = new java.util.SplittableRandom(seed * 31 + 2)
      var i = 0L
      while (System.nanoTime() < deadline) {
        val t = topics(topicPick(r))
        val ps = (0 until batchSize).map(j => payload(r, s"b$i-$j"))
        ledger.attempt()
        try {
          timed(batchNs)(tr.span("log.batch_append", "log")(
            sess.log.batchAppend(t, ps.map(_.getBytes(UTF_8)))))
          ackFirst.put(keyOf(ps.head), stampOf(ps.head))
          ps.foreach(p => ackKeys.put(keyOf(p), t))
        } catch { case e: Exception => ledger.fail(s"batchAppend: $e") }
        i += 1
        if (i % vacuumEvery == 0) {
          // Vacuum reclaims batches the shared GET cursor has consumed; the
          // stream is no consumer group, so reclaim only what the sink has
          // already seen (GETs wait meanwhile, so the cursor cannot move).
          getLock.writeLock().lock()
          try {
            val safe = topics.forall(t =>
              sess.sink.seen(t) >= Option(getCursor.get(t)).map(_.longValue).getOrElse(0L))
            if (safe) {
              ledger.attempt()
              val before = Env.treeBytes(root.resolve("log"))
              try timed(vacuumNs)(tr.span("log.vacuum", "log")(sess.log.vacuum()))
              catch { case e: Exception => ledger.fail(s"vacuum: $e") }
              reclaimed += math.max(0L, before - Env.treeBytes(root.resolve("log")))
            } else vacuumSkipped += 1
          } finally getLock.writeLock().unlock()
        }
      }
    }, "wb-produce")

    val threads = Seq(putter, getter, producer)
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9

    // wait for the stream to deliver every acknowledged entry
    val waitEnd = System.nanoTime() + 60000000000L
    while (!ackKeys.keySet.stream.allMatch(k => sess.sink.arrivalNs.containsKey(k)) &&
        System.nanoTime() < waitEnd) Thread.sleep(50)
    sess.close()

    // output checks
    import scala.jdk.CollectionConverters._
    val acked = ackKeys.asScala
    ledger.check(acked.keysIterator.forall(sess.sink.arrivalNs.containsKey),
      s"sink lost ${acked.keysIterator.count(k => !sess.sink.arrivalNs.containsKey(k))} acknowledged entries")
    ledger.check(sess.sink.offsetOf.asScala.forall { case (k, (t, _)) => acked.get(k).contains(t) },
      "sink holds entries that were never acknowledged, or on the wrong topic")
    delivered.foreach { case (t, keys) =>
      ledger.check(keys.distinct.size == keys.size, s"GET $t delivered duplicates")
      val offs = keys.map(k => Option(sess.sink.offsetOf.get(k)).map(_._2).getOrElse(-1L))
      ledger.check(offs == offs.indices.map(_.toLong),
        s"GET $t deliveries out of order: ${offs.take(5)}")
    }
    val visibleMs = ackFirst.asScala.toSeq.flatMap { case (k, born) =>
      Option(sess.sink.arrivalNs.get(k)).map(a => (a - born) / 1e6)
    }
    def ms(q: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]) =
      q.asScala.map(_.longValue / 1e6).toSeq
    val puts = ms(putNs); val gets = ms(getNs)
    val ops = puts.size + gets.size + stateNs.size + metricsNs.size + batchNs.size
    lastDetail = Detail(puts, gets, visibleMs, ms(batchNs), ms(vacuumNs), ms(stateNs),
      ms(metricsNs), reclaimed / 1e6, delivered.valuesIterator.map(_.size).sum)
    def p(xs: Seq[Double], q: Int) = f"${Stats.pct(xs, q)}%.1f"
    Outcome(
      Seq(
        Metric("latency_p50_ms", Stats.pct(visibleMs, 50), "ms", visibleMs.size),
        Metric("throughput", ops / wallS, "1/s", ops)),
      ledger.attempted, ledger.failed,
      Seq(s"samples: put=${puts.size} get=${gets.size} visible=${visibleMs.size} " +
        s"batch_append=${batchNs.size} state=${stateNs.size} metrics=${metricsNs.size} " +
        s"vacuum=${vacuumNs.size} (skipped $vacuumSkipped) triggers=${sess.sink.batches}",
        s"p50/p90 ms: put ${p(puts, 50)}/${p(puts, 90)} get ${p(gets, 50)}/${p(gets, 90)} " +
          s"visible ${p(visibleMs, 50)}/${p(visibleMs, 90)}") ++
        ledger.firstFailures.map("failure: " + _))
  }

  private final case class Detail(put: Seq[Double], get: Seq[Double], visible: Seq[Double],
      batch: Seq[Double], vacuum: Seq[Double], state: Seq[Double], metrics: Seq[Double],
      reclaimedMb: Double, okGets: Long)
  private var lastDetail = Detail(Nil, Nil, Nil, Nil, Nil, Nil, Nil, 0.0, 0L)

  def layerMetrics(td: TraceData): Seq[Metric] = {
    val d = lastDetail
    val byName = td.spans.groupBy(_.name)
    def spansOf(n: String) = byName.getOrElse(n, Nil)
    val appends = spansOf("log.batch_append")
    val gets = spansOf("server.get")
    def perOp(ss: Seq[Span])(f: Span => Double) = Stats.median(ss.map(f))
    val getExecs = gets.map(s => td.execsOf(td.jobsOf(s)))
    val scanRows = getExecs.map(_.map(_.metrics.getOrElse("scan.numOutputRows", 0L)).sum).sum
    val triggers = td.triggers
    def phase(k: String) = Stats.median(triggers.map(_.durations.getOrElse(k, 0L).toDouble))
    Seq(
      Metric("server.put_p50_ms", Stats.pct(d.put, 50), "ms"),
      Metric("server.put_p90_ms", Stats.pct(d.put, 90), "ms"),
      Metric("server.get_p50_ms", Stats.pct(d.get, 50), "ms"),
      Metric("server.get_p90_ms", Stats.pct(d.get, 90), "ms"),
      Metric("server.state_p50_ms", Stats.median(d.state), "ms"),
      Metric("server.metrics_p50_ms", Stats.median(d.metrics), "ms"),
      Metric("log.batch_append.p50_ms", Stats.pct(d.batch, 50), "ms"),
      Metric("log.batch_append.p90_ms", Stats.pct(d.batch, 90), "ms"),
      Metric("log.batch_append.jobs", perOp(appends)(s => td.jobsOf(s).size), "count"),
      Metric("log.batch_append.plan_ms",
        perOp(appends)(s => td.execsOf(td.jobsOf(s)).map(_.planMs).sum), "ms"),
      Metric("log.batch_append.driver_ms", perOp(appends)(s => td.driverNs(s) / 1e6), "ms"),
      Metric("log.read.plan_ms", Stats.median(getExecs.map(_.map(_.planMs).sum)), "ms"),
      Metric("log.read.metadata_ms",
        Stats.median(getExecs.map(_.map(_.metrics.getOrElse("scan.metadataTime", 0L)).sum.toDouble)), "ms"),
      Metric("log.read.files_scanned",
        Stats.median(getExecs.map(_.map(_.metrics.getOrElse("scan.numFiles", 0L)).sum.toDouble)), "count"),
      Metric("log.read.jobs", perOp(gets)(s => td.jobsOf(s).size), "count"),
      Metric("log.read.driver_ms", perOp(gets)(s => td.driverNs(s) / 1e6), "ms"),
      Metric("log.read.prune_ratio", if (scanRows == 0) 0.0 else d.okGets.toDouble / scanRows, "ratio"),
      Metric("log.vacuum.p50_ms", Stats.median(d.vacuum), "ms"),
      Metric("log.vacuum.max_ms", if (d.vacuum.isEmpty) 0.0 else d.vacuum.max, "ms"),
      Metric("log.vacuum.reclaimed_mb", d.reclaimedMb, "MB"),
      Metric("log.commits", (spansOf("server.put").size + appends.size).toDouble, "count"),
      Metric("streaming.visible_p90_ms", Stats.pct(d.visible, 90), "ms"),
      Metric("streaming.trigger_p50_ms", phase("triggerExecution"), "ms"),
      Metric("streaming.latest_offset_p50_ms", phase("latestOffset"), "ms"),
      Metric("streaming.get_batch_p50_ms", phase("getBatch"), "ms"),
      Metric("streaming.query_planning_p50_ms", phase("queryPlanning"), "ms"),
      Metric("streaming.add_batch_p50_ms", phase("addBatch"), "ms"),
      Metric("streaming.wal_commit_p50_ms", phase("walCommit"), "ms"),
      Metric("streaming.commit_offsets_p50_ms", phase("commitOffsets"), "ms"),
      Metric("streaming.empty_trigger_ratio",
        if (triggers.isEmpty) 0.0 else triggers.count(_.rows == 0).toDouble / triggers.size, "ratio"),
      Metric("streaming.rows_per_trigger",
        if (triggers.isEmpty) 0.0 else triggers.map(_.rows).sum.toDouble / triggers.size, "rows"))
  }
}
