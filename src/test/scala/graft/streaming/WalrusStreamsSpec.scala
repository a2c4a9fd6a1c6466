package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.log.WalrusLog

/** Structured Streaming source/sink over the topic log (SURVEY.md M2;
  * mirrors reference delivery tests tests/integration.rs:718,
  * tests/batch_read.rs:97 sealed→tail crossing → here: commits landing
  * while a query runs). */
class WalrusStreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusStreamsSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tempRoot(): String = graft.TestDirs.create("wstream-").toString
  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("micro-batch source delivers committed entries exactly once, in commit order") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 10).map(i => bytes(s"a$i")))
    log.batchAppend("t", (0 until 5).map(i => bytes(s"b$i")))

    val q = WalrusStreams.readStream(spark, root)
      .writeStream.format("memory").queryName("m1").start()
    try {
      q.processAllAvailable()
      val got1 = spark.sql("SELECT count(*) FROM m1").head().getLong(0)
      assert(got1 == 15)
      // new commit while the query runs → picked up as the next micro-batch
      log.batchAppend("t", (0 until 3).map(i => bytes(s"c$i")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT topic, offset, CAST(value AS STRING) v FROM m1 ORDER BY offset")
        .collect()
      assert(rows.length == 18)
      assert(rows.map(_.getLong(1)).toSeq == (0L until 18L))
      assert(new String(rows.last.getString(2)) == "c2")
    } finally q.stop()
  }

  test("stream-stream interval join across topics of one log") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // clicks and purchases with controlled ingest timestamps; join
    // purchases to clicks of the same value-key within [-10s, 0]
    def ingest(topic: String, items: Seq[(String, Long)]): Unit = {
      val df = spark.createDataFrame(items.map { case (v, t) => (topic, v.getBytes("UTF-8"), t) })
        .toDF("topic", "value", "_seq")
      // _seq doubles as ingest ordering; ts comes from the ingestTs argument
      log.appendDF(df, Some(org.apache.spark.sql.functions.col("_seq")),
        new java.sql.Timestamp(1704067200000L + items.head._2))
    }
    ingest("click", Seq(("u1", 0L), ("u2", 0L)))
    ingest("purchase", Seq(("u1", 5000L)))
    ingest("click", Seq(("u3", 20000L)))
    ingest("purchase", Seq(("u3", 21000L), ("u2", 60000L)))

    val clicks = WalrusStreams.readStream(spark, root, topic = Some("click"))
      .select(decode(col("value"), "UTF-8").as("user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 minutes")
    val purchases = WalrusStreams.readStream(spark, root, topic = Some("purchase"))
      .select(decode(col("value"), "UTF-8").as("user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 minutes")
    val q = clicks.join(purchases, Seq("user"))
      .where(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 10 seconds"))
      .select(col("user"))
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      q.processAllAvailable()
      val users = spark.sql("SELECT user FROM ssjoin ORDER BY user")
        .collect().map(_.getString(0)).toSeq
      // u1: purchase 5s after click (within 10s) ✓; u3: 1s after ✓;
      // u2: purchase 60s after click ✗
      assert(users == Seq("u1", "u3"))
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates with watermark across commits") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // duplicate payloads within and across commits
    log.batchAppend("t", Seq("x", "y", "x").map(bytes))
    log.batchAppend("t", Seq("y", "z", "x").map(bytes))
    val deduped = WalrusStreams.readStream(spark, root)
      .withWatermark("ts", "1 minute")
      .select(decode(col("value"), "UTF-8").as("v"), col("ts"))
      .dropDuplicates("v")
    val q = deduped.writeStream.format("memory")
      .queryName("sdedup").outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later commit adds one more duplicate + one new value
      log.batchAppend("t", Seq("z", "w").map(bytes))
      q.processAllAvailable()
      val vs = spark.sql("SELECT v FROM sdedup ORDER BY v").collect().map(_.getString(0))
      assert(vs.toSeq == Seq("w", "x", "y", "z"))
    } finally q.stop()
  }

  test("topic option prunes other topics at file level") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("keep", (0 until 4).map(i => bytes(s"k$i")))
    log.batchAppend("drop", (0 until 6).map(i => bytes(s"d$i")))
    val q = WalrusStreams.readStream(spark, root, topic = Some("keep"))
      .writeStream.format("memory").queryName("m2").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT DISTINCT topic FROM m2").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("keep"))
      assert(spark.sql("SELECT count(*) FROM m2").head().getLong(0) == 4)
    } finally q.stop()
  }

  test("maxBatchesPerTrigger admission control splits the backlog") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 4).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    val progress = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = WalrusStreams.readStream(spark, root, maxBatchesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("m3").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM m3").head().getLong(0) == 4)
      // ≥4 micro-batches happened (one commit each)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains in admission-controlled slices, then stops") {
    // Regression guard for the single-batch fallback: without
    // SupportsTriggerAvailableNow, Spark logs "Falling back to single
    // batch execution" and processes the whole backlog as ONE micro-batch,
    // bypassing maxBatchesPerTrigger. With it, the drain is a bounded
    // sequence of per-commit micro-batches followed by termination.
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 5).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"), bytes(s"f$i"))))
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = WalrusStreams.readStream(spark, root, maxBatchesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .option("checkpointLocation", tempRoot())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000L)
    assert(!q.isActive, "AvailableNow query terminated after the drain")
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq.filter(_ > 0)
    assert(sizes.sum == 10, s"all 10 rows delivered, got $sizes")
    assert(sizes.length == 5,
      s"one micro-batch per commit under maxBatchesPerTrigger=1, got $sizes")
    // a commit landing AFTER the drain started is not owed to this run;
    // a fresh AvailableNow run picks it up from the checkpoint
    log.batchAppend("t", Seq(bytes("late")))
    batchSizes.clear()
    val q2 = WalrusStreams.readStream(spark, root, maxBatchesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .option("checkpointLocation", tempRoot())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000L)
    assert(batchSizes.asScala.sum == 11) // fresh checkpoint: full replay incl. late commit
  }

  test("batch read via format(walruslog) matches toDF") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("x", (0 until 7).map(i => bytes(s"v$i")))
    val viaSource = WalrusStreams.read(spark, root).count()
    assert(viaSource == 7)
    val entries = WalrusStreams.read(spark, root)
      .orderBy("offset").collect()
    assert(entries.map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq ==
      (0 until 7).map(i => s"v$i"))
  }

  test("streaming sink with epoch tags: retried epoch is a no-op") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    import spark.implicits._
    val df = (0 until 5).map(i => ("t", s"p$i".getBytes("UTF-8"))).toDF("topic", "value")
    log.appendDF(df, tag = Some("stream-epoch-7"))
    assert(log.entryCount("t") == 5)
    // same tag again → dropped
    log.appendDF(df, tag = Some("stream-epoch-7"))
    assert(log.entryCount("t") == 5)
    log.appendDF(df, tag = Some("stream-epoch-8"))
    assert(log.entryCount("t") == 10)
  }

  test("end-to-end: stream from one log into another via sink") {
    val srcRoot = tempRoot(); val dstRoot = tempRoot()
    val src = new WalrusLog(spark, srcRoot)
    val dst = new WalrusLog(spark, dstRoot)
    src.batchAppend("t", (0 until 8).map(i => bytes(s"m$i")))
    val stream = WalrusStreams.readStream(spark, srcRoot)
      .select(col("topic"), col("value"))
    val writer = WalrusStreams.sink(stream, dst, tempRoot())
    WalrusStreams.drainOnce(writer)
    val reopened = new WalrusLog(spark, dstRoot)
    assert(reopened.entryCount("t") == 8)
    val got = reopened.batchRead("t", 1 << 20, checkpoint = false)
      .map(e => new String(e.value)).toSet
    assert(got == (0 until 8).map(i => s"m$i").toSet)
  }

  test("two sink queries into one log keep apart by checkpoint; a restart lands only the delta") {
    val rootA = tempRoot(); val rootB = tempRoot(); val dstRoot = tempRoot()
    val a = new WalrusLog(spark, rootA)
    val b = new WalrusLog(spark, rootB)
    val dst = new WalrusLog(spark, dstRoot)
    a.batchAppend("t", (0 until 3).map(i => bytes(s"a$i")))
    b.batchAppend("t", (0 until 4).map(i => bytes(s"b$i")))
    val ckA = tempRoot(); val ckB = tempRoot()
    def drain(root: String, ck: String): Unit = WalrusStreams.drainOnce(
      WalrusStreams.sink(WalrusStreams.readStream(spark, root)
        .select(col("topic"), col("value")), dst, ck))
    def landed = dst.batchRead("t", 1 << 20, checkpoint = false)
      .map(e => new String(e.value, "UTF-8")).sorted
    // both queries commit their first epoch as epoch 0
    drain(rootA, ckA); drain(rootB, ckB)
    assert(landed == Seq("a0", "a1", "a2", "b0", "b1", "b2", "b3"), landed.toString)
    a.batchAppend("t", Seq(bytes("a3")))
    drain(rootA, ckA)
    assert(landed == Seq("a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3"), landed.toString)
  }

  test("writeStream.format(walruslog): V1 sink fallback appends epoch-tagged commits") {
    val srcRoot = tempRoot(); val dstRoot = tempRoot()
    val src = new WalrusLog(spark, srcRoot)
    src.batchAppend("a", (0 until 6).map(i => bytes(s"x$i")))
    src.batchAppend("b", (0 until 4).map(i => bytes(s"y$i")))
    val ckpt = tempRoot()
    def drain(): Unit = {
      val q = WalrusStreams.readStream(spark, srcRoot)
        .select(col("topic"), col("value"))
        .writeStream.format("walruslog")
        .option("path", dstRoot)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val dst1 = new WalrusLog(spark, dstRoot)
    assert(dst1.entryCount("a") == 6 && dst1.entryCount("b") == 4)
    // restart on the SAME checkpoint with new source data: the committed
    // epochs are checkpointed (and tag-protected), only the delta lands
    src.batchAppend("a", (6 until 9).map(i => bytes(s"x$i")))
    drain()
    val dst2 = new WalrusLog(spark, dstRoot)
    assert(dst2.entryCount("a") == 9 && dst2.entryCount("b") == 4)
    assert(dst2.batchRead("a", 1 << 20, checkpoint = false)
      .map(e => new String(e.value)).toSet == (0 until 9).map(i => s"x$i").toSet)
    // the commits carry the v1sink tag derived from the checkpoint path
    val tags = graft.sources.WalrusLogSource.listCommits(
      java.nio.file.Paths.get(dstRoot, "default")).flatMap(_._1.tag)
    assert(tags.nonEmpty && tags.forall(_.startsWith("v1sink-")))
    assert(tags.map(_.split("-")(1)).toSet.size == 1) // one stable query identity
  }

  test("sink epoch tags are stable under conf-based checkpoint + queryName (not just the option)") {
    // ADVICE r7: with the checkpoint resolved from
    // spark.sql.streaming.checkpointLocation + queryName (no writer
    // option), the tag base must still be the stable query identity —
    // a fresh-random base per restart would double-commit a replayed epoch.
    val srcRoot = tempRoot(); val dstRoot = tempRoot()
    val src = new WalrusLog(spark, srcRoot)
    src.batchAppend("a", (0 until 4).map(i => bytes(s"x$i")))
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.streaming.checkpointLocation", tempRoot())
    def drain(): Unit = {
      val q = WalrusStreams.readStream(s2, srcRoot)
        .select(col("topic"), col("value"))
        .writeStream.format("walruslog")
        .option("path", dstRoot)
        .queryName("conf-ckpt-sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    src.batchAppend("a", (4 until 7).map(i => bytes(s"x$i")))
    drain() // restart resolves the SAME checkpoint dir from conf + name
    val dst = new WalrusLog(spark, dstRoot)
    assert(dst.entryCount("a") == 7)
    val tags = graft.sources.WalrusLogSource.listCommits(
      java.nio.file.Paths.get(dstRoot, "default")).flatMap(_._1.tag)
    assert(tags.nonEmpty && tags.forall(_.startsWith("v1sink-")))
    assert(tags.map(_.split("-")(1)).toSet.size == 1,
      s"tag base must be one stable query identity across restarts: $tags")
  }

  test("walruslog sink: option topic supplies the topic column; bad shapes rejected") {
    val srcRoot = tempRoot(); val dstRoot = tempRoot()
    val src = new WalrusLog(spark, srcRoot)
    src.batchAppend("t", (0 until 5).map(i => bytes(s"v$i")))
    val q = WalrusStreams.readStream(spark, srcRoot)
      .select(col("value")) // no topic column in the stream
      .writeStream.format("walruslog")
      .option("path", dstRoot).option("topic", "routed")
      .option("checkpointLocation", tempRoot())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(new WalrusLog(spark, dstRoot).entryCount("routed") == 5)
    // append-only: Update/Complete modes are rejected at sink creation
    val agg = WalrusStreams.readStream(spark, srcRoot)
      .groupBy("topic").count()
      .select(col("topic"), col("count").cast("string").cast("binary").as("value"))
    val ex = intercept[Exception] {
      agg.writeStream.format("walruslog")
        .option("path", tempRoot()).outputMode("complete")
        .option("checkpointLocation", tempRoot())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(c => Option(c.getMessage).exists(_.contains("append-only"))))
  }

  test("flatMapGroupsWithState sessionization closes sessions across micro-batches") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // three commits with controlled ingest timestamps: two inside one
    // session (gap 1s), the third 10s later -> closes session 1
    log.appendDF(entryDF("t", 3), ingestTs = new java.sql.Timestamp(1000000L))
    log.appendDF(entryDF("t", 2), ingestTs = new java.sql.Timestamp(1000500L))
    log.appendDF(entryDF("t", 4), ingestTs = new java.sql.Timestamp(1010600L))
    val sessions = Sessionize.sessionize(
      spark, WalrusStreams.readStream(spark, root), gapMs = 2000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("msess").start()
    try {
      q.processAllAvailable()
      val closed = spark.sql("SELECT key, start, `end`, n FROM msess").collect()
      assert(closed.length == 1) // first session closed by the 10s gap
      assert(closed.head.getString(0) == "t")
      assert(closed.head.getLong(3) == 5) // 3 + 2 entries
      // a fourth commit far in the future closes session 2 (n=4)
      log.appendDF(entryDF("t", 1), ingestTs = new java.sql.Timestamp(2000000L))
      q.processAllAvailable()
      val all = spark.sql("SELECT n FROM msess ORDER BY n").collect().map(_.getLong(0))
      assert(all.toSeq == Seq(4L, 5L))
    } finally q.stop()
  }

  private def entryDF(topic: String, n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (topic, s"e$i".getBytes("UTF-8"))).toDF("topic", "value")
  }

  test("event-time windowed aggregation with watermark over the stream") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 20).map(i => bytes(s"e$i")))
    val agg = WalrusStreams.readStream(spark, root)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("topic"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("mwin").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT sum(n) FROM mwin").head().getLong(0)
      assert(n == 20)
    } finally q.stop()
  }

  test("real-time offsets: json roundtrip, merge, per-partition resume") {
    import graft.sources._
    import java.nio.file.Paths
    val o = WalrusRealTimeOffset(Map(1 -> ((3L, 7L)), 0 -> ((2L, 0L))), 2)
    val stream = new WalrusMicroBatchStream(Paths.get("/tmp/none"), None, None,
      WalrusLogSource.Schema)
    assert(stream.deserializeOffset(o.json()) == o)
    assert(stream.deserializeOffset(CommitIndexOffset(5L).json()) == CommitIndexOffset(5L))
    val merged = stream.mergeOffsets(Array(
      WalrusRealTimePartitionOffset(0, 2, 0), WalrusRealTimePartitionOffset(1, 3, 7)))
    assert(merged == o)
    // each partition resumes at ITS OWN row-granular point
    val parts = stream.planInputPartitions(o)
      .map(_.asInstanceOf[WalrusRealTimePartition])
    assert(parts.map(p => (p.partitionId, p.startCommitIdx, p.startRowInCommit))
      .toSeq == Seq((0, 2L, 0L), (1, 3L, 7L)))
    // an initial CommitIndexOffset fans out to every partition
    val init = stream.planInputPartitions(CommitIndexOffset(4L))
      .map(_.asInstanceOf[WalrusRealTimePartition])
    assert(init.forall(p => p.startCommitIdx == 4L && p.startRowInCommit == 0L))
    // changing realTimePartitions against a checkpointed offset fails fast:
    // row-granular skips are only valid under the same topic→reader hash
    val resized = new WalrusMicroBatchStream(Paths.get("/tmp/none"), None, None,
      WalrusLogSource.Schema, rtPartitions = 3)
    val err = intercept[IllegalArgumentException](resized.planInputPartitions(o))
    assert(err.getMessage.contains("checkpointed"))
  }

  test("real-time mode: one batch tails the log; commits during the batch arrive; restart has no dups") {
    import scala.jdk.CollectionConverters._
    RtmCollector.seen.clear()
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("alpha", (0 until 5).map(i => bytes(s"pre-a$i")))
    log.batchAppend("beta", (0 until 5).map(i => bytes(s"pre-b$i")))
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.streaming.realTimeMode.minBatchDuration", "2s")
    val df = s2.readStream.format("walruslog").option("path", root)
      .option("realTimePartitions", "2").load()
      .select(col("topic"), col("offset"), decode(col("value"), "UTF-8").as("v"))
    val ckpt = graft.TestDirs.create("rtm-ck-").toString
    def start() = df.writeStream.foreach(new RtmCollector.W).outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.RealTime("2 seconds"))
      .start()
    def await(cond: => Boolean, ms: Long = 30000): Unit = {
      val dl = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < dl) Thread.sleep(20)
      assert(cond, "condition not reached in time")
    }
    val q = start()
    try {
      await(RtmCollector.seen.size == 10)
      // commits landing while the query runs are tailed in (the probe's
      // structural guarantee; arrival needs no new trigger boundary)
      log.batchAppend("alpha", (0 until 3).map(i => bytes(s"live-$i")))
      await(RtmCollector.seen.size == 13)
      // drain a full empty batch so the last data-carrying batch's offsets
      // are committed before the stop (a killed IN-FLIGHT batch replays
      // into the non-transactional foreach sink by design)
      val settled = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      await(Option(q.lastProgress).exists(_.batchId >= settled + 2), 15000)
    } finally q.stop()
    val afterStop = RtmCollector.seen.size
    log.batchAppend("beta", (0 until 3).map(i => bytes(s"post-$i")))
    val q2 = start()
    try await(RtmCollector.seen.size >= afterStop + 3, 15000) finally q2.stop()
    val all = RtmCollector.seen.asScala.toSeq
    assert(all.size == all.distinct.size, s"duplicate deliveries: $all")
    assert(all.toSet == (
      (0 until 5).map(i => ("alpha", i.toLong, s"pre-a$i")) ++
      (0 until 3).map(i => ("alpha", (5 + i).toLong, s"live-$i")) ++
      (0 until 5).map(i => ("beta", i.toLong, s"pre-b$i")) ++
      (0 until 3).map(i => ("beta", (5 + i).toLong, s"post-$i"))).toSet)
  }

  test("real-time mode: 4 reader partitions over hash-assigned topics, empty partitions merge cleanly") {
    import scala.jdk.CollectionConverters._
    RtmCollector.seen.clear()
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // 6 topics over 4 reader partitions: some partitions own several
    // topics, and with few topics some may own none — their (commitIdx,
    // 0) offsets must still merge into the composite end offset
    val topics = (0 until 6).map(i => s"topic-$i")
    topics.zipWithIndex.foreach { case (t, i) =>
      log.batchAppend(t, (0 until (i + 1)).map(j => bytes(s"$t/$j")))
    }
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.streaming.realTimeMode.minBatchDuration", "2s")
    val df = s2.readStream.format("walruslog").option("path", root)
      .option("realTimePartitions", "4").load()
      .select(col("topic"), col("offset"), decode(col("value"), "UTF-8").as("v"))
    val ckpt = graft.TestDirs.create("rtm-ck4-").toString
    val q = df.writeStream.foreach(new RtmCollector.W).outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.RealTime("2 seconds"))
      .start()
    val expected = (1 to 6).sum
    try {
      val dl = System.currentTimeMillis() + 30000
      while (RtmCollector.seen.size < expected && System.currentTimeMillis() < dl)
        Thread.sleep(20)
    } finally q.stop()
    val all = RtmCollector.seen.asScala.toSeq
    assert(all.size == expected, s"got ${all.size} of $expected: $all")
    assert(all.toSet == topics.zipWithIndex.flatMap { case (t, i) =>
      (0 until (i + 1)).map(j => (t, j.toLong, s"$t/$j"))
    }.toSet)
  }

  test("time travel: asOfCommit reads the log as of that commit, later data invisible") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 3).map(i => bytes(s"v1-$i")))
    log.batchAppend("t", (0 until 2).map(i => bytes(s"v2-$i")))
    def asOf(n: String) = spark.read.format("walruslog")
      .option("path", root).option("asOfCommit", n).load()
    assert(asOf("0").count() == 3)
    assert(asOf("1").count() == 5)
    val v0 = asOf("0").orderBy("offset").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
    assert(v0.toSeq == Seq("v1-0", "v1-1", "v1-2"))
    // stats describe the as-of view too
    val tbl = new graft.sources.WalrusLogTable(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root, "asOfCommit", "0")))
    val stats = tbl.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 3L)
  }

  test("commit-log cache: one parse per commit per stream lifetime, not per trigger") {
    val root = tempRoot()
    // manifest disabled so every parse is an individual commit JSON
    val log = new WalrusLog(spark, root,
      cfg = graft.log.LogConfig(manifestEveryCommits = 0))
    (0 until 6).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    graft.sources.WalrusLogSource.commitParseCount.set(0L)
    val q = spark.readStream.format("walruslog").option("path", root)
      .option("maxBatchesPerTrigger", "1").load()
      .writeStream.format("memory").queryName("mcache")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    assert(spark.sql("SELECT count(*) FROM mcache").head().getLong(0) == 6)
    val parses = graft.sources.WalrusLogSource.commitParseCount.get()
    // 6 commits drained over 6 one-commit triggers, each trigger making ~3
    // listing calls (latestOffset / planInputPartitions / reportLatest):
    // the pre-cache behavior re-parsed ~6×6×3 = 100+ files; the cached
    // prefix parses each commit file exactly once per stream lifetime.
    assert(parses <= 6L, s"expected ≤ 6 commit-JSON parses, got $parses")
  }

  test("one commits/ listing per micro-batch trigger") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    val n = 8
    (0 until n).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    // the names cache serves a commits/ dir only once it has been quiet
    // for a second; a future mtime keeps every look a real listing, as on
    // a log that is being written to
    val commitsDir = java.nio.file.Paths.get(root, "default", "commits")
    java.nio.file.Files.setLastModifiedTime(commitsDir,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 3600000L))
    val before = graft.sources.WalrusLogSource.commitDirListCount.get()
    val q = spark.readStream.format("walruslog").option("path", root)
      .option("maxBatchesPerTrigger", "1").load()
      .writeStream.format("memory").queryName("mlistings")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    val listings = graft.sources.WalrusLogSource.commitDirListCount.get() - before
    assert(spark.sql("SELECT count(*) FROM mlistings").head().getLong(0) == n)
    assert(q.recentProgress.count(_.numInputRows > 0) == n)
    // one per trigger, plus the AvailableNow fence and the last look that
    // finds nothing new
    assert(listings <= n + 2L, s"$n one-commit triggers made $listings commits/ listings")
  }

  /** Values of topic `t` a micro-batch stream delivers for `(start, end]`. */
  private def deliver(stream: graft.sources.WalrusMicroBatchStream,
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Seq[String] = {
    val factory = stream.createReaderFactory()
    stream.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      try while (r.next()) {
        val b = r.get()
        (0 until b.numRows()).foreach(i => out += new String(b.column(2).getBinary(i), "UTF-8"))
      } finally r.close()
      out.toSeq
    }
  }

  test("a ProcessingTime stream over a log that gains commits between triggers lists commits/ only at its cold load") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq(bytes("e0")))
    val n = 6
    // listings counted as each batch runs; each batch publishes the
    // commit the next trigger finds
    val listingsAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.format("walruslog").option("path", root).load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        rows.addAndGet(df.count())
        listingsAt.put(id, graft.sources.WalrusLogSource.commitDirListCount.get())
        if (id < n) log.batchAppend("t", Seq(bytes(s"e${id + 1}")))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while (!listingsAt.containsKey(n.toLong) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally q.stop()
    assert(listingsAt.containsKey(n.toLong), s"batches seen: ${listingsAt.keySet()}")
    assert(rows.get() == n + 1L)
    val after = listingsAt.get(n.toLong) - listingsAt.get(0L)
    assert(after == 0L, s"$n triggers after the first made $after commits/ listings")
  }

  test("a commit published past a skipped id is delivered after one fallback listing") {
    import graft.sources.{CommitIndexOffset, WalrusLogSource}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = tempRoot()
    val nsDir = java.nio.file.Paths.get(root, "default")
    val log = new WalrusLog(spark, root)
    (0 until 3).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    val stream = new graft.sources.WalrusMicroBatchStream(nsDir, Some("t"), None,
      WalrusLogSource.Schema)
    val o1 = stream.latestOffset(CommitIndexOffset(0L), ReadLimit.allAvailable())
    assert(o1 == CommitIndexOffset(3L))
    // id 3 becomes a skip: no commit file and no batch dir, as an abandoned
    // claim leaves it once a later open sweeps its dir
    log.batchAppend("t", Seq(bytes("skipped")))
    log.batchAppend("t", Seq(bytes("e4")))
    Files.delete(nsDir.resolve("commits").resolve(f"${3L}%012d.json"))
    WalrusLog.deleteRecursively(nsDir.resolve("data").resolve("batch=3"))
    // and all of it a while ago: the listing below is trusted
    Files.setLastModifiedTime(nsDir.resolve("commits"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val before = WalrusLogSource.commitDirListCount.get()
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
    assert(WalrusLogSource.commitDirListCount.get() - before == 1L)
    assert(o2 == CommitIndexOffset(4L))
    assert(deliver(stream, o1, o2) == Seq("e4"))
    // nothing new and the dir unchanged since that listing: no listing
    assert(stream.latestOffset(o2, ReadLimit.allAvailable()) == o2)
    assert(WalrusLogSource.commitDirListCount.get() - before == 1L)
    // the next commit is found by its id again
    log.batchAppend("t", Seq(bytes("e5")))
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
    assert(deliver(stream, o2, o3) == Seq("e5"))
    assert(WalrusLogSource.commitDirListCount.get() - before == 1L)
  }

  test("the real-time reader lists commits/ only on a probe miss with a moved mtime") {
    import graft.sources.WalrusLogSource
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 2).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    val nsDir = java.nio.file.Paths.get(root, "default")
    // a dir quiet for an hour: its mtime is trusted from the cold load on
    Files.setLastModifiedTime(nsDir.resolve("commits"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val reader = new graft.sources.WalrusRealTimeReader(
      graft.sources.WalrusRealTimePartition(0, 1, nsDir.toString, Some("t"),
        WalrusLogSource.PruneSpec(), 0L, 0L), WalrusLogSource.Schema)
    def drain(ms: Long): Seq[String] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      val deadline = System.currentTimeMillis() + ms
      while (reader.nextWithTimeout(deadline).hasRecord)
        rows += new String(reader.get().getBinary(2), "UTF-8")
      rows.toSeq
    }
    try {
      val before = WalrusLogSource.commitDirListCount.get()
      // ~40 polls of 5 ms over an unchanged dir
      assert(drain(200L) == Seq("e0", "e1"))
      assert(WalrusLogSource.commitDirListCount.get() == before)
      // a new commit is found by the probe; the first miss after it sees
      // the moved mtime and lists once
      log.batchAppend("t", Seq(bytes("e2")))
      assert(drain(300L) == Seq("e2"))
      val listings = WalrusLogSource.commitDirListCount.get() - before
      assert(listings >= 1L && listings <= 2L, s"$listings listings after one commit")
    } finally reader.close()
  }

  test("real-time reader of a killed task yields none of a later commit's rows") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq(bytes("before")))
    val nsDir = java.nio.file.Paths.get(root, "default").toString
    val reader = new graft.sources.WalrusRealTimeReader(
      graft.sources.WalrusRealTimePartition(0, 1, nsDir, Some("t"),
        graft.sources.WalrusLogSource.PruneSpec(), 1L, 0L),
      graft.sources.WalrusLogSource.Schema)
    try {
      val got = org.apache.spark.graft.TaskContexts.killed {
        log.batchAppend("t", Seq(bytes("after-stop")))
        try {
          val rows = scala.collection.mutable.ArrayBuffer.empty[String]
          val deadline = System.currentTimeMillis() + 300L
          while (reader.nextWithTimeout(deadline).hasRecord)
            rows += new String(reader.get().getBinary(2), "UTF-8")
          rows.toSeq
        } catch { case _: org.apache.spark.TaskKilledException => Seq.empty }
      }
      assert(got.isEmpty, s"a killed task's reader delivered $got")
    } finally reader.close()
  }

  test("real-time reader of a stopped stream yields none of a later commit's rows") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq(bytes("before")))
    val stream = new graft.sources.WalrusMicroBatchStream(
      java.nio.file.Paths.get(root, "default"), Some("t"), None,
      graft.sources.WalrusLogSource.Schema, rtPartitions = 1)
    val part = stream.planInputPartitions(graft.sources.CommitIndexOffset(1L)).head
      .asInstanceOf[graft.sources.WalrusRealTimePartition]
    val reader = new graft.sources.WalrusRealTimeReader(part, graft.sources.WalrusLogSource.Schema)
    try {
      // the task is not killed yet: stop() returned before the kill arrived
      stream.stop()
      log.batchAppend("t", Seq(bytes("after-stop")))
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      val stopped =
        try {
          val deadline = System.currentTimeMillis() + 300L
          while (reader.nextWithTimeout(deadline).hasRecord)
            rows += new String(reader.get().getBinary(2), "UTF-8")
          false
        } catch { case _: org.apache.spark.TaskKilledException => true }
      assert(rows.isEmpty, s"a stopped stream's reader delivered $rows")
      assert(stopped)
    } finally reader.close()
  }

  test("an incremental commit listing stops before a commit it missed") {
    val dir = java.nio.file.Paths.get("commits")
    def names(ids: Long*) = ids.map(id => dir.resolve(f"$id%012d.json"))
    val published = Set(5L, 6L, 7L, 9L, 10L) // 8 was claimed, never published
    val prefix = graft.sources.WalrusLogSource.publishedPrefix(_: Seq[java.nio.file.Path],
      4L, published)
    // a listing that raced commit 6 and missed it: 7 must not take its slot
    assert(prefix(names(5, 7, 9)) == names(5))
    // a commit before the first listed one was missed
    assert(prefix(names(6, 7)).isEmpty)
    // an id that never published is a gap, not a miss
    assert(prefix(names(5, 6, 7, 9, 10)) == names(5, 6, 7, 9, 10))
    assert(prefix(Nil).isEmpty)
  }

  test("manifest checkpoint: a cold scan parses one manifest + the JSON tail") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root,
      cfg = graft.log.LogConfig(manifestEveryCommits = 4))
    (0 until 10).foreach(i => log.batchAppend("t", Seq(bytes(s"e$i"))))
    // manifests rolled at commits 4 and 8 → newest covers ids 0..7; the
    // JSON tail is {8, 9}. A cold scan must not parse the covered prefix.
    graft.sources.WalrusLogSource.commitParseCount.set(0L)
    val df = spark.read.format("walruslog").option("path", root).load()
    val vals = df.orderBy("offset").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
    assert(vals.toSeq == (0 until 10).map(i => s"e$i"))
    val parses = graft.sources.WalrusLogSource.commitParseCount.get()
    assert(parses <= 4L, // ≤ K with slack for a re-built scan; full = 10/scan
      s"expected the 2-file tail (≤ 4 with scan rebuilds), got $parses parses")
    // streaming cold start rides the same manifest
    graft.sources.WalrusLogSource.commitParseCount.set(0L)
    val q = spark.readStream.format("walruslog").option("path", root).load()
      .writeStream.format("memory").queryName("mmanif")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    assert(spark.sql("SELECT count(*) FROM mmanif").head().getLong(0) == 10)
    assert(graft.sources.WalrusLogSource.commitParseCount.get() <= 4L)
  }

  test("scan statistics exclude compaction-replaced batches (no double count)") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 3).map(i => bytes(s"a$i")))
    log.batchAppend("t", (0 until 4).map(i => bytes(s"b$i")))
    log.batchAppend("u", (0 until 5).map(i => bytes(s"c$i")))
    assert(log.compact().nonEmpty)
    val tbl = new graft.sources.WalrusLogTable(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root)))
    val stats = tbl.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    // the 12 rows live ONLY in the compaction batch now; counting the
    // replaced sources too would report 24 and skew join planning
    assert(stats.numRows().getAsLong == 12L)
    assert(spark.read.format("walruslog").option("path", root).load().count() == 12L)
  }

  test("stream skips a compaction commit whose sources it already consumed") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 6).map(i => bytes(s"a$i")))
    log.batchAppend("t", (0 until 6).map(i => bytes(s"b$i")))
    val q = WalrusStreams.readStream(spark, root)
      .writeStream.format("memory").queryName("cskip1").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cskip1").head().getLong(0) == 12)
      // compaction rewrites the 12 already-delivered rows into one batch;
      // this stream's cursor is past both sources, so the compaction
      // commit must be SKIPPED (no re-delivery), and fresh data after it
      // still flows
      assert(log.compact().nonEmpty)
      log.batchAppend("t", Seq(bytes("c0")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT offset, CAST(value AS STRING) v FROM cskip1 ORDER BY offset").collect()
      assert(rows.length == 13, s"re-delivered rows: ${rows.length - 13}")
      assert(rows.map(_.getLong(0)).toSeq == (0L until 13L))
      assert(rows.last.getString(1) == "c0")
    } finally q.stop()
    // a FRESH stream (cursor 0) still gets every row exactly once: the
    // replaced sources have no data dirs, the compaction batch carries them
    val q2 = WalrusStreams.readStream(spark, root)
      .writeStream.format("memory").queryName("cskip2").start()
    try {
      q2.processAllAvailable()
      val rows2 = spark.sql("SELECT offset FROM cskip2 ORDER BY offset").collect()
      assert(rows2.length == 13)
      assert(rows2.map(_.getLong(0)).toSeq == (0L until 13L))
    } finally q2.stop()
  }

  test("stream checkpoint survives manifest-v2 truncation (commit-index offsets stay aligned)") {
    // Stream offsets are POSITIONS in the commit-file order. After vacuum
    // drops every consumed commit from the v2 manifest, a restarted
    // stream's cold start must still see one element per commit file
    // (tombstones synthesized for truncated ids) or its checkpointed
    // index would silently shift onto the wrong commit.
    val root = tempRoot()
    val log = new WalrusLog(spark, root,
      cfg = graft.log.LogConfig(manifestEveryCommits = 2))
    (0 until 4).foreach(i => log.batchAppend("t", Seq(bytes(s"old$i"))))
    val ckpt = tempRoot()
    val dstRoot = tempRoot()
    val dst = new WalrusLog(spark, dstRoot)
    def drain(): Unit = {
      // untagged foreachBatch mirror: a replayed epoch would DUPLICATE
      val w = WalrusStreams.readStream(spark, root)
        .select(col("topic"), col("value"))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          dst.appendDF(batch); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val q = w.start(); q.awaitTermination()
    }
    drain()
    assert(dst.entryCount("t") == 4)
    // consume + vacuum: all four commits leave the manifest entirely
    (0 until 4).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum().size == 4)
    val m = graft.log.WalrusLog.readNewestManifest(
      java.nio.file.Paths.get(root, "default")).get
    assert(m.entries.isEmpty && m.state.nonEmpty, "expected a truncated v2 manifest")
    log.batchAppend("t", Seq(bytes("fresh")))
    // restart on the SAME checkpoint: exactly the new commit, no dup/loss
    drain()
    assert(dst.entryCount("t") == 5, s"got ${dst.entryCount("t")} rows after restart")
    val got = dst.batchRead("t", 1 << 20, checkpoint = false)
      .map(e => new String(e.value, "UTF-8")).sorted
    assert(got == Seq("fresh", "old0", "old1", "old2", "old3"), got.toString)
  }

  test("live stream rides repeated manifest truncations; pre-truncation checkpoint restarts exactly-once with O(tail) parses") {
    // VERDICT r8 item 6: the 120-cycle LongRunningSpec soak is batch-side;
    // this drives a LIVE stream across >= 2 manifest-v2 truncations and a
    // restart whose checkpointed start index PREDATES the newest manifest
    // (every commit it consumed has been truncated away). The positional
    // contract that makes this safe: commit FILES are never deleted (vacuum
    // rewrites them in place), so the stream's commit-index offsets stay
    // aligned however much the manifest sheds.
    val root = tempRoot()
    val log = new WalrusLog(spark, root,
      cfg = graft.log.LogConfig(manifestEveryCommits = 3))
    val ckpt = tempRoot()
    // memory sink cannot recover a checkpoint; collect via foreachBatch
    // (same JVM in local mode), cleared per query instance
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def manifestAsOf: Long = graft.log.WalrusLog.readNewestManifest(
      java.nio.file.Paths.get(root, "default")).map(_.asOf).getOrElse(-1L)
    def start() = WalrusStreams.readStream(spark, root)
      .select(decode(col("value"), "UTF-8").as("v"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getString(0))); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
      .start()
    var n = 0
    def append(k: Int): Unit = (0 until k).foreach { _ =>
      log.batchAppend("t", Seq(bytes(s"r$n"))); n += 1
    }
    def got: Seq[String] = {
      val a = new java.util.ArrayList[String](seen)
      a.toArray(Array.empty[String]).toSeq.sorted
    }
    // phase A: 4 commits delivered live, then stop — the checkpoint's
    // start index (4) predates the manifests the truncations write next
    val q1 = start()
    try { append(4); q1.processAllAvailable() } finally q1.stop()
    assert(got == (0 until 4).map(i => s"r$i"), got.mkString(","))
    // engine-side consume + vacuum → truncation #1 while the stream is DOWN
    (0 until 4).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum().size == 4)
    val asOf1 = manifestAsOf
    assert(asOf1 >= 3L, s"truncation 1 not written: asOf=$asOf1")
    append(3) // r4 r5 r6
    seen.clear()
    graft.sources.WalrusLogSource.commitParseCount.set(0L)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // O(tail) cold start: the truncated prefix is tombstone-synthesized
      // names-only; only the post-manifest JSON tail is parsed
      val parses = graft.sources.WalrusLogSource.commitParseCount.get()
      assert(parses <= 6L, s"restart re-parsed the truncated prefix: $parses parses")
      // exactly-once: the restarted query delivers ONLY the three new
      // rows — nothing from the truncated consumed prefix
      assert(got == Seq("r4", "r5", "r6"), got.mkString(","))
      // truncations #2 and #3 while the stream is LIVE: consume + vacuum
      // the delivered commits mid-flight, keep appending
      (0 until 3).foreach(_ => log.readNext("t", checkpoint = true))
      assert(log.vacuum().nonEmpty)
      assert(manifestAsOf > asOf1, "second truncation not written")
      append(2) // r7 r8
      q2.processAllAvailable()
      (0 until 2).foreach(_ => log.readNext("t", checkpoint = true))
      assert(log.vacuum().nonEmpty) // third truncation, stream still live
      append(1) // r9
      q2.processAllAvailable()
      assert(got == (4 to 9).map(i => s"r$i"), got.mkString(","))
    } finally q2.stop()
  }

  test("maxRowsPerTrigger: row-budget admission slices the drain by commit metadata") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 6).foreach(i =>
      log.batchAppend("t", (0 until 3).map(j => bytes(s"v$i$j")))) // 6 × 3 rows
    val qn = s"rows${System.nanoTime()}"
    val q = WalrusStreams.readStream(spark, root, maxRowsPerTrigger = Some(7L))
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    // all 18 rows land exactly once...
    assert(spark.sql(s"SELECT count(*) FROM $qn").head.getLong(0) == 18L)
    // ...across ceil(18/6-per-2-commits) slices: a 7-row budget admits 2
    // whole 3-row commits per batch (the 3rd would exceed), so 3 batches
    val q2 = spark.streams.active.find(_.name == qn)
    assert(q2.isEmpty) // stopped; inspect via the recorded progress below
    spark.catalog.dropTempView(qn)
    // oversized-commit progress guarantee: a budget SMALLER than one
    // commit still admits exactly one commit per trigger
    val qn2 = s"rows1${System.nanoTime()}"
    val p = WalrusStreams.readStream(spark, root, maxRowsPerTrigger = Some(1L))
      .writeStream.format("memory").queryName(qn2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(p.awaitTermination(120000)) finally p.stop()
    assert(spark.sql(s"SELECT count(*) FROM $qn2").head.getLong(0) == 18L)
    val batches = p.recentProgress.filter(_.numInputRows > 0)
    assert(batches.forall(_.numInputRows == 3L),
      batches.map(_.numInputRows).mkString(","))
    assert(batches.length == 6, s"expected 6 one-commit slices, got ${batches.length}")
    spark.catalog.dropTempView(qn2)
    // composite: 1 batch AND 100 rows -> the tighter (files) wins
    val qn3 = s"rowsc${System.nanoTime()}"
    val c = WalrusStreams.readStream(spark, root,
        maxBatchesPerTrigger = Some(1), maxRowsPerTrigger = Some(100L))
      .writeStream.format("memory").queryName(qn3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(c.awaitTermination(120000)) finally c.stop()
    assert(spark.sql(s"SELECT count(*) FROM $qn3").head.getLong(0) == 18L)
    assert(c.recentProgress.count(_.numInputRows > 0) == 6)
    spark.catalog.dropTempView(qn3)
  }

  test("startingTimestampMs: a fresh stream starts at the first commit reaching the probe") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    val t0 = 1704067200000L
    def one(v: String, tsMs: Long) = log.appendDF(
      spark.createDataFrame(Seq(("t", v.getBytes("UTF-8")))).toDF("topic", "value"),
      ingestTs = new java.sql.Timestamp(tsMs))
    one("a", t0); one("b", t0 + 1000L); one("c", t0 + 2000L)
    def drained(startMs: Option[Long]): Seq[String] = {
      val qn = s"stamp${System.nanoTime()}"
      val q = WalrusStreams.readStream(spark, root, startingTimestampMs = startMs)
        .select(decode(col("value"), "UTF-8").as("v"))
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      val rows = spark.sql(s"SELECT v FROM $qn").collect().map(_.getString(0)).sorted.toSeq
      spark.catalog.dropTempView(qn)
      rows
    }
    assert(drained(None) == Seq("a", "b", "c"))
    assert(drained(Some(t0 + 1000L)) == Seq("b", "c"))
    assert(drained(Some(t0 + 1500L)) == Seq("c")) // between commits: next one
    // probe past everything: only FUTURE commits flow
    val qn = s"stampfut${System.nanoTime()}"
    val q = WalrusStreams.readStream(spark, root,
        startingTimestampMs = Some(t0 + 999999000L))
      .select(decode(col("value"), "UTF-8").as("v"))
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql(s"SELECT count(*) FROM $qn").head.getLong(0) == 0L)
      one("d", t0 + 999999000L + 1000L)
      q.processAllAvailable()
      val got = spark.sql(s"SELECT v FROM $qn").collect().map(_.getString(0)).toSeq
      assert(got == Seq("d"), got.mkString(","))
    } finally q.stop()
    spark.catalog.dropTempView(qn)
  }

  test("readStream rejects asOfCommit (streams cannot time-travel)") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq(bytes("x")))
    val err = intercept[Exception] {
      // the rejection may surface at start() or on the stream thread
      val q = spark.readStream.format("walruslog").option("path", root)
        .option("asOfCommit", "0").load()
        .writeStream.format("memory").queryName("mtt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => Option(c.getMessage).exists(_.contains("time-travel"))),
      s"unexpected error: $err")
  }

  test("minRowsPerTrigger gates triggers until rows or maxTriggerDelay (Kafka minOffsetsPerTrigger)") {
    // driven at the admission-control seam with an injected clock, so the
    // time-based escape hatch is deterministic
    import graft.sources.{CommitIndexOffset, WalrusLogSource, WalrusMicroBatchStream}
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 3).foreach(i =>
      log.batchAppend("t", (0 until 4).map(j => bytes(s"v$i$j"))))
    var now = 0L
    val stream = new WalrusMicroBatchStream(
      java.nio.file.Paths.get(root, "default"), None, None,
      WalrusLogSource.Schema,
      minRowsPerTrigger = Some(10L), maxTriggerDelayMs = 5000L,
      clockMs = () => now)
    val lim = stream.getDefaultReadLimit
    // 12 rows ≥ min 10 → the trigger fires through the backlog
    assert(stream.latestOffset(CommitIndexOffset(0L), lim) ==
      CommitIndexOffset(3L))
    // 4 new rows < 10 → gated (no progress), again just before the delay
    log.batchAppend("t", (0 until 4).map(j => bytes(s"w$j")))
    assert(stream.latestOffset(CommitIndexOffset(3L), lim) ==
      CommitIndexOffset(3L))
    now = 4999L
    assert(stream.latestOffset(CommitIndexOffset(3L), lim) ==
      CommitIndexOffset(3L))
    // delay expired → fires despite the deficit, and resets the clock
    now = 5000L
    assert(stream.latestOffset(CommitIndexOffset(3L), lim) ==
      CommitIndexOffset(4L))
    log.batchAppend("t", (0 until 4).map(j => bytes(s"x$j")))
    assert(stream.latestOffset(CommitIndexOffset(4L), lim) ==
      CommitIndexOffset(4L), "firing must reset the delay reference")
    // min composes with max: enough rows to fire, but the row cap still
    // bounds how far one micro-batch reaches (tighter limit wins)
    var now2 = 0L
    val both = new WalrusMicroBatchStream(
      java.nio.file.Paths.get(root, "default"), None, None,
      WalrusLogSource.Schema,
      maxRowsPerTrigger = Some(5L),
      minRowsPerTrigger = Some(10L), maxTriggerDelayMs = 5000L,
      clockMs = () => now2)
    assert(both.latestOffset(CommitIndexOffset(0L), both.getDefaultReadLimit) ==
      CommitIndexOffset(1L))
    // end-to-end through the engine: an AvailableNow drain ignores the
    // gate (the fence demands full delivery) and still sees every row
    val q = spark.readStream.format("walruslog").option("path", root)
      .option("minRowsPerTrigger", "1000000").load()
      .writeStream.format("memory").queryName("minrows_e2e")
      .option("checkpointLocation",
        graft.TestDirs.create("minrows-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("minrows_e2e").count() == 20L)
  }

  test("failOnDataLoss: reclaimed-unconsumed commits raise when opted in, skip by default") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 2).foreach(i =>
      log.batchAppend("t", (0 until 3).map(j => bytes(s"v$i$j"))))
    log.batchAppend("t", (0 until 3).map(j => bytes(s"w$j"))) // stays live
    // reclaim the first two commits before any stream consumed them
    log.vacuumOlderThan(System.currentTimeMillis() + 3600000L) match {
      case ids => assert(ids.size == 3) // all three reclaimed... rebuild one
    }
    log.batchAppend("t", (0 until 3).map(j => bytes(s"x$j"))) // live again
    def drain(opts: Map[String, String], name: String) = {
      var r = spark.readStream.format("walruslog").option("path", root)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          graft.TestDirs.create("fodl-ck-").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // default: silent skip (the engine's historical retention semantics)
    drain(Map.empty, "fodl_default")
    assert(spark.table("fodl_default").count() == 3L)
    // opted in: the unconsumed reclaimed range raises
    val err = intercept[Exception] {
      drain(Map("failOnDataLoss" -> "true"), "fodl_strict")
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(err).exists(_.contains("failOnDataLoss")),
      causes(err).mkString(" | "))
    // compaction is NOT loss: replaced sources stay readable through the
    // compaction commit, so a strict fresh stream drains cleanly
    val root2 = tempRoot()
    val log2 = new WalrusLog(spark, root2)
    (0 until 3).foreach(i =>
      log2.batchAppend("t", (0 until 3).map(j => bytes(s"c$i$j"))))
    assert(log2.compact().nonEmpty)
    val q2 = spark.readStream.format("walruslog").option("path", root2)
      .option("failOnDataLoss", "true").load()
      .writeStream.format("memory").queryName("fodl_compact")
      .option("checkpointLocation",
        graft.TestDirs.create("fodl2-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table("fodl_compact").count() == 9L)
  }

  test("failOnDataLoss through the real-time tail: raises on reclaimed commits, skips by default, compaction is not loss") {
    // VERDICT r10 #3: the micro-batch source raises at latestOffset on
    // reclaimed ranges; the RTM commit-dir tail reader must honor the
    // same option. Driven at the reader level (nextWithTimeout) so the
    // vacuum can land at exact points relative to the reader's cached
    // commit listing — including AFTER construction (the stale-flag
    // race, detected by the missing-batch-dir signature).
    import graft.sources._
    import java.nio.file.Paths
    def part(root: String, strict: Boolean) = WalrusRealTimePartition(
      0, 1, Paths.get(root, "default").toString, None,
      WalrusLogSource.PruneSpec(), 0L, 0L, failOnDataLoss = strict)
    def drainNow(p: WalrusRealTimePartition, budgetMs: Long = 400): Seq[String] = {
      val reader = new WalrusRealTimeReader(p, WalrusLogSource.Schema)
      val out = scala.collection.mutable.Buffer.empty[String]
      try {
        val dl = java.lang.Long.valueOf(System.currentTimeMillis() + budgetMs)
        var st = reader.nextWithTimeout(dl)
        while (st.hasRecord) {
          out += new String(reader.get().getBinary(2), "UTF-8")
          st = reader.nextWithTimeout(dl)
        }
      } finally reader.close()
      out.toSeq
    }
    // c0 reclaimed before any read; c1 stays live
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 3).map(j => bytes(s"a$j")))
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    log.batchAppend("t", (0 until 3).map(j => bytes(s"b$j")))
    assert(log.vacuumOlderThan(mid).size == 1)
    // default: the historical silent skip — only c1's rows arrive
    assert(drainNow(part(root, strict = false)) == Seq("b0", "b1", "b2"))
    // opted in: the reclaimed commit raises before any row of it is skipped
    val err = intercept[IllegalStateException](drainNow(part(root, strict = true)))
    assert(err.getMessage.contains("failOnDataLoss"), err.getMessage)
    // stale-flag race: reader caches the listing while c0 is LIVE, the
    // vacuum lands afterwards — the missing batch dir must still raise
    val root2 = tempRoot()
    val log2 = new WalrusLog(spark, root2)
    log2.batchAppend("t", (0 until 3).map(j => bytes(s"r$j")))
    val reader2 = new WalrusRealTimeReader(part(root2, strict = true),
      WalrusLogSource.Schema)
    try {
      Thread.sleep(30)
      assert(log2.vacuumOlderThan(System.currentTimeMillis()).size == 1)
      val err2 = intercept[IllegalStateException] {
        reader2.nextWithTimeout(java.lang.Long.valueOf(System.currentTimeMillis() + 400))
      }
      assert(err2.getMessage.contains("failOnDataLoss"), err2.getMessage)
    } finally reader2.close()
    // compaction is NOT loss: replaced sources re-deliver through the
    // live compaction commit, so a strict tail drains every row
    val root3 = tempRoot()
    val log3 = new WalrusLog(spark, root3)
    (0 until 3).foreach(i =>
      log3.batchAppend("t", (0 until 3).map(j => bytes(s"c$i$j"))))
    assert(log3.compact().nonEmpty)
    val got = drainNow(part(root3, strict = true))
    assert(got.sorted == (0 until 3).flatMap(i =>
      (0 until 3).map(j => s"c$i$j")).sorted, got)
  }

  test("maxBytesPerTrigger paces micro-batches by metadata byte width (Auto Loader shape)") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // 4 commits × 10 entries × 8 B payload; decoded width per commit =
    // 10 × (8 + 256 metaOverhead) = 2640 B
    (0 until 4).foreach(i =>
      log.batchAppend("t", (0 until 10).map(j => bytes(f"p$i$j%02d-aa"))))
    val q = spark.readStream.format("walruslog").option("path", root)
      .option("maxBytesPerTrigger", "3000").load()
      .writeStream.format("memory").queryName("maxbytes_e2e")
      .option("checkpointLocation",
        graft.TestDirs.create("maxbytes-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("maxbytes_e2e").count() == 40L)
    // 3000 B fits ONE 2640 B commit per trigger (the second would burst
    // the budget) → four 10-row micro-batches
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows)
    assert(batches.toSeq == Seq(10L, 10L, 10L, 10L), batches.mkString(","))
    // oversized commit: a budget below one commit still admits it whole
    // (progress guarantee, never a stall)
    val root2 = tempRoot()
    val log2 = new WalrusLog(spark, root2)
    log2.batchAppend("t", (0 until 10).map(j => bytes(s"q$j-aaaa")))
    val q2 = spark.readStream.format("walruslog").option("path", root2)
      .option("maxBytesPerTrigger", "100").load()
      .writeStream.format("memory").queryName("maxbytes_big")
      .option("checkpointLocation",
        graft.TestDirs.create("maxbytes2-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table("maxbytes_big").count() == 10L)
  }

  test("SparkEntry streaming queries are rerun-stable (driver reruns them)") {
    // The bench and correctness drivers invoke each query repeatedly in one
    // JVM; the streaming entries manage per-invocation sinks/checkpoints and
    // (for session windows) append sentinel commits — output must not drift.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("stream_session_windows", "stream_dedup", "stream_custom_state")) {
      def run() = graft.SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val first = run()
      val second = run()
      assert(first.nonEmpty, s"$name produced rows")
      assert(first == second, s"$name drifted across reruns")
    }
  }
}

/** Shared collector for the real-time-mode tests (the foreach writer runs
  * on executor threads — same JVM in local mode). */
object RtmCollector {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
  class W extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
    def open(partitionId: Long, epochId: Long): Boolean = true
    def process(r: org.apache.spark.sql.Row): Unit =
      seen.add((r.getString(0), r.getLong(1), r.getString(2)))
    def close(errorOrNull: Throwable): Unit = ()
  }
}
