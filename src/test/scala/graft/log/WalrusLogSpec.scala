package graft.log

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Engine-semantics suite mirroring the reference's test corpus
  * (reference: tests/unit.rs, tests/integration.rs, tests/batch_read.rs,
  * tests/batch_writes.rs, tests/configuration.rs — see FIXTURES.md §A). */
class WalrusLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusLogSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tempRoot(): String =
    graft.TestDirs.create("walruslog-test-").toString

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String = new String(b, "UTF-8")

  // tests/integration.rs:28 — write/read cycle in order
  test("roundtrip: entries come back in append order with dense offsets") {
    val log = new WalrusLog(spark, tempRoot())
    (0 until 5).foreach(i => log.append("t", bytes(s"entry-$i")))
    val got = log.batchRead("t", maxBytes = 1 << 20, checkpoint = false)
    assert(got.map(e => str(e.value)) == (0 until 5).map(i => s"entry-$i"))
    assert(got.map(_.offset) == (0L until 5L))
  }

  // tests/integration.rs:272 — topic isolation
  test("multi-topic isolation") {
    val log = new WalrusLog(spark, tempRoot())
    val topics = (0 until 8).map(i => s"topic-$i")
    val rows = for (t <- topics; i <- 0 until 20) yield (t, bytes(s"$t/$i"))
    import spark.implicits._
    val df = spark.createDataset(rows.map { case (t, v) => (t, v) })
      .toDF("topic", "value")
    log.appendDF(df)
    topics.foreach { t =>
      val got = log.batchRead(t, 1 << 20, checkpoint = false)
      assert(got.size == 20, s"topic $t")
      assert(got.forall(e => str(e.value).startsWith(t)))
      assert(got.map(_.offset) == (0L until 20L))
    }
  }

  // src/wal/runtime/walrus.rs:923-937 — batch caps
  test("batch caps enforced; concurrent batch would block") {
    val log = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(maxBatchEntries = 10, maxBatchBytes = 100))
    intercept[IllegalArgumentException] {
      log.batchAppend("t", (0 until 11).map(i => bytes(s"$i")))
    }
    intercept[IllegalArgumentException] {
      log.batchAppend("t", Seq(new Array[Byte](101)))
    }
    log.batchAppend("t", Seq(bytes("ok")))
    assert(log.entryCount("t") == 1)
  }

  // tests/unit.rs:161 — peek does not advance
  test("peek (checkpoint=false) never advances; consume does") {
    val log = new WalrusLog(spark, tempRoot())
    (0 until 3).foreach(i => log.append("t", bytes(s"e$i")))
    val p1 = log.readNext("t", checkpoint = false)
    val p2 = log.readNext("t", checkpoint = false)
    assert(str(p1.get.value) == "e0" && str(p2.get.value) == "e0")
    assert(log.entryCount("t") == 3)
    val c1 = log.readNext("t", checkpoint = true)
    assert(str(c1.get.value) == "e0")
    assert(log.entryCount("t") == 2)
    val c2 = log.readNext("t", checkpoint = true)
    assert(str(c2.get.value) == "e1")
    assert(log.readNext("t", checkpoint = true).map(e => str(e.value)).contains("e2"))
    assert(log.readNext("t", checkpoint = true).isEmpty) // EMPTY when caught up
  }

  // walrus.rs:714-920, configuration.rs:98 — restart recovery of counts+cursors
  test("restart recovery: counts and cursors survive reopen") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 10).foreach(i => log.append("t", bytes(s"e$i")))
    (0 until 4).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.entryCount("t") == 6)
    log.close()
    val reopened = new WalrusLog(spark, root)
    assert(reopened.entryCount("t") == 6)
    assert(str(reopened.readNext("t").get.value) == "e4")
    assert(reopened.totalAppended("t") == 10)
  }

  // batch_read.rs:170 — byte-budget admission always admits ≥ 1
  test("batch read byte budget: at least one entry, prefix only") {
    val log = new WalrusLog(spark, tempRoot())
    log.batchAppend("t", (0 until 10).map(_ => new Array[Byte](100)))
    val one = log.batchRead("t", maxBytes = 1, checkpoint = false)
    assert(one.size == 1)
    val three = log.batchRead("t", maxBytes = 300, checkpoint = false)
    assert(three.size == 3)
    val all = log.batchRead("t", maxBytes = 10000, checkpoint = false)
    assert(all.size == 10)
  }

  // walrus.rs:634-711 + walrus_read.rs:419-585 — byte-offset addressed read
  test("stateless byte-offset read: alignment, trim, count-neutrality") {
    val log = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(metaOverheadBytes = 256))
    val payloads = (0 until 5).map(i => s"payload-number-$i") // 16 bytes each
    log.batchAppend("t", payloads.map(bytes))
    val countBefore = log.entryCount("t")
    // Entry i occupies [i*(256+16), (i+1)*(256+16)); start of entry 2:
    val e2 = log.batchReadFromByteOffset("t", 1 << 20, 2 * 272)
    assert(str(e2.head.value) == "payload-number-2")
    // Offset inside entry 1's header → full payload of entry 1
    val h1 = log.batchReadFromByteOffset("t", 1 << 20, 272 + 100)
    assert(str(h1.head.value) == "payload-number-1")
    // Offset 5 bytes into entry 0's payload → trimmed first payload
    val t0 = log.batchReadFromByteOffset("t", 1 << 20, 256 + 5)
    assert(str(t0.head.value) == "ad-number-0")
    assert(str(t0(1).value) == "payload-number-1")
    // Past the end → empty
    assert(log.batchReadFromByteOffset("t", 1 << 20, 5 * 272).isEmpty)
    assert(log.entryCount("t") == countBefore) // walrus.rs:939-957
  }

  // walrus.rs:939-957 — stateless offset-0 read of UNSEALED (tail) data
  // returns every entry, however small, and never advances the cursor
  test("stateless offset-0 read from the open segment keeps small entries") {
    val log = new WalrusLog(spark, tempRoot(),
      consistency = ReadConsistency.StrictlyAtOnce)
    log.batchAppend("t", Seq("a", "b", "c").map(bytes))
    assert(log.entryCount("t") == 3)
    val got = log.batchReadFromByteOffset("t", 16 * 1024, 0L)
    assert(got.map(e => str(e.value)) == Seq("a", "b", "c"))
    assert(log.entryCount("t") == 3)
  }

  // walrus_read.rs:536-545 — offset-0 alignment into a SEALED block skips
  // the leading run of sub-128 B entries (internal-metadata heuristic)
  test("stateless offset-0 read skips small leading entries once sealed") {
    val log = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(maxSegmentEntries = 4))
    val big1 = "B" * 200
    val big2 = "C" * 150
    log.batchAppend("t", Seq("tiny", "meta", big1, big2).map(bytes))
    // 4 entries >= threshold => segment 0 sealed, entry 0 is sealed storage
    val got = log.batchReadFromByteOffset("t", 1 << 20, 0L)
    assert(got.map(e => str(e.value)) == Seq(big1, big2))
    // any nonzero offset still addresses the full stream (no skip):
    // offset 1 is inside entry 0's meta header -> full first payload
    val all = log.batchReadFromByteOffset("t", 1 << 20, 1L)
    assert(all.head.offset == 0L && str(all.head.value) == "tiny")
    assert(log.entryCount("t") == 4)
  }

  // the skip is bounded by the sealed boundary (the reference scan stops
  // at blk.used): small entries in the OPEN segment after an all-small
  // sealed segment must survive an offset-0 read
  test("offset-0 skip never crosses the sealed boundary into the tail") {
    val log = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(maxSegmentEntries = 2))
    log.batchAppend("t", Seq("a", "b").map(bytes)) // segment 0 seals (2 small)
    log.batchAppend("t", Seq("c").map(bytes))      // open segment tail
    val got = log.batchReadFromByteOffset("t", 1 << 20, 0L)
    assert(got.map(e => str(e.value)) == Seq("c"),
      "sealed small entries skip, but the unsealed tail must be returned")
  }

  // tests/env_var_race_condition.rs:1-143 — the reference's builder reads
  // the process-global WALRUS_DATA_DIR on every call, so two threads racing
  // set_var can land both instances in one directory. Our builder snapshots
  // env ONCE at construction and dataDir/key are per-instance state, so
  // concurrent construction MUST stay isolated; this pins that contract
  // with the same barrier-raced shape as the reference's reproduction.
  test("concurrent builder construction: instances stay in their own dirs") {
    val dir1 = tempRoot()
    val dir2 = tempRoot()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def race(dir: String, payload: String): Future[Boolean] = Future {
        val b = WalrusLog.builder(spark).withDataDir(dir).withKey("race_test")
        barrier.await() // both builders configured before either builds
        val log = b.build()
        log.append("t", bytes(payload))
        java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "race_test"))
      }
      val ok = Await.result(
        Future.sequence(Seq(race(dir1, "one"), race(dir2, "two"))), 120.seconds)
      assert(ok == Seq(true, true), "an instance landed outside its own dir")
      // and each directory holds ONLY its own entry
      val r1 = WalrusLog.builder(spark).withDataDir(dir1).withKey("race_test")
        .build().batchRead("t", 1 << 20, checkpoint = false)
      val r2 = WalrusLog.builder(spark).withDataDir(dir2).withKey("race_test")
        .build().batchRead("t", 1 << 20, checkpoint = false)
      assert(r1.map(e => str(e.value)) == Seq("one"))
      assert(r2.map(e => str(e.value)) == Seq("two"))
    } finally pool.shutdown()
  }

  // distributed rollover semantics (monitor.rs:15-24, metadata.rs:144-166)
  test("segment rollover: seals at threshold, exact counts, state json") {
    val log = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(maxSegmentEntries = 100))
    log.batchAppend("t", (0 until 350).map(i => bytes(s"$i")))
    // one commit of 350 → open segment had 350 ≥ 100 → sealed as one 350-entry segment
    val st1 = log.stateJson("t")
    assert(st1.contains(""""current_segment":1"""))
    assert(st1.contains(""""last_sealed_entry_offset":350"""))
    // now 3 commits of 40 → seals when open reaches ≥100 (at 120)
    (0 until 3).foreach(_ => log.batchAppend("t", (0 until 40).map(i => bytes(s"x$i"))))
    val st2 = log.stateJson("t")
    assert(st2.contains(""""current_segment":2"""))
    assert(st2.contains(""""last_sealed_entry_offset":470"""))
    assert(st2.contains(""""1":120"""))
  }

  // configuration.rs:528-617 — namespace isolation
  test("namespace isolation") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root, namespace = "ns-a")
    val b = new WalrusLog(spark, root, namespace = "ns-b")
    a.append("t", bytes("from-a"))
    b.append("t", bytes("from-b"))
    assert(str(a.readNext("t", checkpoint = false).get.value) == "from-a")
    assert(str(b.readNext("t", checkpoint = false).get.value) == "from-b")
    assert(a.entryCount("t") == 1 && b.entryCount("t") == 1)
  }

  // consumer groups: independent cursors (FIXTURES.md consumer_groups)
  test("consumer groups: independent cursors, shared data") {
    val log = new WalrusLog(spark, tempRoot())
    log.batchAppend("t", (0 until 20).map(i => bytes(s"e$i")))
    (0 until 10).foreach(_ => log.readNext("t", checkpoint = true, group = "A"))
    (0 until 3).foreach(_ => log.readNext("t", checkpoint = true, group = "B"))
    assert(log.committedOffset("A", "t") == 10)
    assert(log.committedOffset("B", "t") == 3)
    assert(str(log.readNext("t", group = "A").get.value) == "e10")
    assert(str(log.readNext("t", group = "B").get.value) == "e3")
    assert(log.committedOffset(WalrusLog.SharedGroup, "t") == 0)
  }

  // unit.rs:111 — checksum corruption detected via public API
  test("checksum corruption is detected on read") {
    import org.apache.spark.sql.functions._
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq(bytes("good-payload")))
    // Corrupt: rewrite the batch's parquet with a stale checksum
    val dir = new java.io.File(s"$root/default/data/batch=0/topic=t")
    val df = spark.read.parquet(dir.toString)
    val corrupted = df.withColumn("value", lit(bytes("evil-payload")))
    val tmp = tempRoot()
    corrupted.write.parquet(s"$tmp/topic=t")
    WalrusLog.deleteRecursively(dir.toPath)
    Files.move(java.nio.file.Paths.get(s"$tmp/topic=t"), dir.toPath)
    intercept[InvalidDataException] {
      log.batchRead("t", 1 << 20, checkpoint = false)
    }
  }

  // batch atomicity (batch_writes.rs:47): a failed append publishes nothing
  test("uncommitted batch dirs are invisible and recovery ignores them") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.append("t", bytes("visible"))
    // Simulate a torn write: batch dir exists but no commit record
    val orphan = java.nio.file.Paths.get(s"$root/default/data/batch=99/topic=t")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-000.parquet"), Array[Byte](1, 2, 3)) // garbage
    val reopened = new WalrusLog(spark, root)
    assert(reopened.entryCount("t") == 1)
    val got = reopened.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.size == 1 && str(got.head.value) == "visible")
  }

  // configuration.rs:287,399 — reclamation after full consumption
  test("vacuum reclaims fully consumed batches") {
    val log = new WalrusLog(spark, tempRoot(),
      consistency = ReadConsistency.StrictlyAtOnce)
    log.batchAppend("t", (0 until 5).map(i => bytes(s"e$i")))
    log.batchAppend("t", (0 until 5).map(i => bytes(s"f$i")))
    assert(log.vacuum().isEmpty) // nothing consumed yet
    (0 until 5).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum() == Seq(0L)) // first batch fully below the cursor
    // remaining data still readable
    assert(str(log.readNext("t", checkpoint = false).get.value) == "f0")
    assert(log.entryCount("t") == 5)
  }

  test("vacuumPlan dry run predicts exactly what the destructive paths reclaim") {
    val log = new WalrusLog(spark, tempRoot(),
      consistency = ReadConsistency.StrictlyAtOnce)
    log.batchAppend("t", (0 until 5).map(i => bytes(s"e$i")))  // 10 B payload
    log.batchAppend("t", (0 until 5).map(i => bytes(s"f$i")))
    log.batchAppend("u", (0 until 3).map(i => bytes(s"ggg$i"))) // 12 B payload
    (0 until 5).foreach(_ => log.readNext("t", checkpoint = true))
    // size threshold 10: commit 0 has 10 B of newer 't' data -> eligible;
    // commits 1 (no newer t) and 2 (no newer u) are not
    val plan = log.vacuumPlan(maxTopicBytes = 10L)
    assert(plan.map(_._1) == Seq(0L, 1L, 2L))
    assert(plan.map(_._2) == Seq(true, false, false), s"consume: $plan")
    assert(plan.map(_._3) == Seq(true, false, false), s"size: $plan")
    assert(plan.map(_._4) == Seq(5L, 5L, 3L))
    assert(plan.map(_._5) == Seq(10L, 10L, 12L))
    // the dry run is not a mutation: a second call sees the same commits
    assert(log.vacuumPlan(10L) == plan)
    // and the destructive path reclaims EXACTLY the predicted commits
    assert(log.vacuum() == plan.collect { case (id, true, _, _, _) => id })
    // entryCount is the UNREAD count (R6): 5 of t consumed, u untouched
    assert(log.entryCount("t") == 5 && log.entryCount("u") == 3)
  }

  // at-least-once: cursor persisted every N; replay ≤ N after "crash"
  test("at-least-once persists cursor every N entries") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root,
      consistency = ReadConsistency.AtLeastOnce(persistEvery = 4))
    log.batchAppend("t", (0 until 10).map(i => bytes(s"e$i")))
    (0 until 6).foreach(_ => log.readNext("t", checkpoint = true))
    // 6 consumed; persisted at 4; reopening WITHOUT close() replays from 4
    val reopened = new WalrusLog(spark, root,
      consistency = ReadConsistency.AtLeastOnce(persistEvery = 4))
    val next = reopened.readNext("t", checkpoint = false).get
    assert(str(next.value) == "e4")
    assert(reopened.entryCount("t") == 6)
  }

  // W6 topic clean markers (topic_clean.rs:12-257)
  test("topic clean markers: append dirties, mark clean persists") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.ensureTopic("t")
    assert(log.topicIsClean("t"))
    log.append("t", bytes("x"))
    assert(!log.topicIsClean("t"))
    log.markTopicClean("t")
    assert(log.topicIsClean("t"))
    log.close()
    val reopened = new WalrusLog(spark, root)
    assert(reopened.topicIsClean("t"))
    reopened.markTopicDirty("t")
    assert(!reopened.topicIsClean("t"))
  }

  // large-ish entries + binary patterns (integration.rs:91,641)
  test("binary payload patterns roundtrip exactly") {
    val log = new WalrusLog(spark, tempRoot())
    val patterns: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array.fill[Byte](1024)(0),
      Array.fill[Byte](1024)(-1),
      Array.tabulate[Byte](512)(i => if (i % 2 == 0) 0x55 else 0xAA.toByte),
      Array.tabulate[Byte](333)(i => (i * 31 + 7).toByte))
    log.batchAppend("t", patterns)
    val got = log.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.size == patterns.size)
    got.zip(patterns).foreach { case (e, p) =>
      assert(java.util.Arrays.equals(e.value, p))
    }
  }

  // large_write_read_repro / unit.rs:139 — multi-MB single entries
  test("large entries roundtrip exactly") {
    val log = new WalrusLog(spark, tempRoot())
    val big = new Array[Byte](5 * 1024 * 1024)
    new scala.util.Random(7).nextBytes(big)
    log.append("t", big)
    log.append("t", bytes("small-after"))
    val got = log.batchRead("t", Long.MaxValue / 2, checkpoint = false)
    assert(got.size == 2)
    assert(java.util.Arrays.equals(got.head.value, big))
    assert(str(got(1).value) == "small-after")
    assert(log.topicSize("t") == big.length + 11 + 2 * 256)
  }

  // batch_read.rs:287 — concurrent writers to different topics
  test("concurrent appenders to distinct topics interleave safely") {
    val log = new WalrusLog(spark, tempRoot())
    // single-append path: concurrent appends serialize (the batch path
    // intentionally rejects concurrency with WouldBlock, writer.rs:135-165)
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 5).foreach { i =>
        log.append(s"topic-$t", bytes(s"t$t-e$i"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (0 until 4).foreach { t =>
      val got = log.batchRead(s"topic-$t", 1 << 20, checkpoint = false)
      assert(got.size == 5, s"topic-$t")
      assert(got.map(_.offset) == (0L until 5L)) // dense despite concurrency
      assert(got.map(e => str(e.value)).toSet == (0 until 5).map(i => s"t$t-e$i").toSet)
    }
  }

  // integration.rs:718 — exactly-once delivery to concurrent consumers
  test("strictly-at-once: concurrent consumers never see the same entry twice") {
    val log = new WalrusLog(spark, tempRoot(),
      consistency = ReadConsistency.StrictlyAtOnce)
    log.batchAppend("t", (0 until 40).map(i => bytes(s"e$i")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        var go = true
        while (go) log.readNext("t", checkpoint = true) match {
          case Some(e) => seen.add(str(e.value))
          case None => go = false
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val all = seen.asScala.toSeq
    assert(all.size == 40, s"delivered ${all.size} (dupes or losses)")
    assert(all.toSet == (0 until 40).map(i => s"e$i").toSet)
    assert(log.entryCount("t") == 0)
  }

  test("compact merges small batches, preserves offsets/counts/reads, survives restart") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 5).foreach(i =>
      log.batchAppend("t", (0 until 10).map(j => bytes(s"b$i-e$j"))))
    log.batchAppend("u", (0 until 7).map(j => bytes(s"u$j")))
    val before = log.batchRead("t", 1 << 20, checkpoint = false).map(e => str(e.value))
    val dirsBefore = new java.io.File(s"$root/default/data").listFiles().length
    assert(dirsBefore == 6)
    val newId = log.compact()
    assert(newId.isDefined)
    val dirsAfter = new java.io.File(s"$root/default/data").listFiles().length
    assert(dirsAfter == 1) // sources reclaimed
    // identical reads, counts, sizes
    val after = log.batchRead("t", 1 << 20, checkpoint = false).map(e => str(e.value))
    assert(after == before)
    assert(log.entryCount("t") == 50 && log.entryCount("u") == 7)
    assert(log.topicSize("t") == before.map(_.length.toLong + 256).sum)
    // byte-offset addressing still exact after compaction
    val t0 = log.batchReadFromByteOffset("t", 1 << 20, 2 * (256 + 6))
    assert(str(t0.head.value) == "b0-e2")
    // restart: replayed state identical; reads still work
    log.close()
    val re = new WalrusLog(spark, root)
    assert(re.entryCount("t") == 50)
    assert(re.batchRead("t", 1 << 20, checkpoint = false).map(e => str(e.value)) == before)
    // idempotent-ish: nothing left to compact (single batch)
    assert(re.compact().isEmpty)
  }

  test("vacuumed batches still count toward segment state after restart") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root, cfg = LogConfig(maxSegmentEntries = 10))
    log.batchAppend("t", (0 until 12).map(i => bytes(s"a$i")))
    log.batchAppend("t", (0 until 5).map(i => bytes(s"b$i")))
    (0 until 12).foreach(_ => log.readNext("t"))
    assert(log.vacuum() == Seq(0L))
    val stBefore = log.stateJson("t")
    log.close()
    val re = new WalrusLog(spark, root, cfg = LogConfig(maxSegmentEntries = 10))
    assert(re.stateJson("t") == stBefore)
    assert(re.entryCount("t") == 5)
    assert(str(re.readNext("t", checkpoint = false).get.value) == "b0")
  }

  test("salted join matches plain join results") {
    import spark.implicits._
    val left = (0 until 1000).map(i => (i % 3, s"l$i")).toDF("k", "lv")
    val right = Seq((0, "r0"), (1, "r1"), (2, "r2"), (3, "r3")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = graft.operators.Skew.saltedJoin(left, right, Seq("k"), 8)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("SQL view surface: spark.sql over the log with native functions") {
    val log = new WalrusLog(spark, tempRoot())
    log.batchAppend("t", (0 until 6).map(i => bytes(s"v$i")))
    log.createOrReplaceView("wlog_test")
    val r = spark.sql(
      "SELECT count(*) AS n, count(DISTINCT fnv1a64(value)) AS d FROM wlog_test").head()
    assert(r.getLong(0) == 6 && r.getLong(1) == 6)
  }

  test("topic size accounting includes per-entry meta overhead") {
    val log = new WalrusLog(spark, tempRoot())
    log.batchAppend("t", Seq(new Array[Byte](100), new Array[Byte](50)))
    assert(log.topicSize("t") == 150 + 2 * 256)
  }

  test("concurrent appenders and consumers on distinct topics stay isolated") {
    // reference parity: tests/unit.rs:360 concurrent validation — writer
    // threads interleave on the shared engine lock; per-topic streams
    // must come out dense, ordered, and complete
    val log = new WalrusLog(spark, tempRoot())
    val nThreads = 4
    val perThread = 15
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          (0 until perThread).foreach { i =>
            log.append(s"topic-$t", bytes(s"t$t-e$i"))
            if (i % 5 == 4) {
              // interleave consumption of our own topic
              val got = log.batchRead(s"topic-$t", Long.MaxValue,
                checkpoint = true, group = s"g$t")
              got.foreach(e => assert(str(e.value).startsWith(s"t$t-")))
            }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"thread errors: ${errors.toArray.mkString(", ")}")
    (0 until nThreads).foreach { t =>
      assert(log.totalAppended(s"topic-$t") == perThread.toLong)
      val all = log.batchRead(s"topic-$t", Long.MaxValue, checkpoint = false)
      assert(all.map(e => str(e.value)) == (0 until perThread).map(i => s"t$t-e$i"))
      assert(all.map(_.offset) == (0L until perThread.toLong))
    }
  }

  test("chaos: random op sequences preserve the TLA-style safety invariants") {
    // End-to-end analogue of the reference's TLC-checked invariants
    // (distributed-walrus/spec/DistributedWalrus.tla:139-206): sealed
    // counts sum to last_sealed (LastSealedIsSum), cursors stay in
    // [0, nextOffset] (CursorBounds), consumption is dense in-order
    // delivery (SeqOrder), and restart replay preserves all of it.
    val r = new scala.util.Random(7)
    var root = tempRoot()
    var log = new WalrusLog(spark, root, cfg = LogConfig(maxSegmentEntries = 7))
    val topics = Seq("alpha", "beta")
    val appended = mutable.Map("alpha" -> 0L, "beta" -> 0L)
    val consumed = mutable.Map("alpha" -> 0L, "beta" -> 0L)
    def grab(js: String, k: String): Long =
      raw""""$k":(-?\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong).getOrElse(0L)
    def sealedSum(js: String): Long = {
      val m = raw""""sealed_segments":\{([^}]*)\}""".r.findFirstMatchIn(js)
        .map(_.group(1)).getOrElse("")
      raw""":(\d+)""".r.findAllMatchIn(m).map(_.group(1).toLong).sum
    }
    (0 until 30).foreach { step =>
      val t = topics(r.nextInt(topics.size))
      r.nextInt(6) match {
        case 0 | 1 => // single append
          log.append(t, s"$t-${appended(t)}".getBytes)
          appended(t) += 1
        case 2 => // atomic batch
          val n = 1 + r.nextInt(9)
          log.batchAppend(t, (0 until n).map(i => s"$t-${appended(t) + i}".getBytes("UTF-8")))
          appended(t) += n
        case 3 => // consume a few, verify dense in-order delivery
          val got = log.batchRead(t, maxBytes = 1 + r.nextInt(60))
          got.zipWithIndex.foreach { case (e, i) =>
            assert(e.offset == consumed(t) + i, s"step $step SeqOrder")
            assert(str(e.value) == s"$t-${e.offset}", s"step $step payload")
          }
          consumed(t) += got.size
        case 4 => // restart: full recovery replay
          log.close()
          log = new WalrusLog(spark, root, cfg = LogConfig(maxSegmentEntries = 7))
        case 5 => // reclaim consumed storage
          log.vacuum()
      }
      topics.foreach { tt =>
        val js = log.stateJson(tt)
        assert(grab(js, "next_offset") == appended(tt), s"step $step appended")
        assert(sealedSum(js) == grab(js, "last_sealed_entry_offset"),
          s"step $step LastSealedIsSum")
        assert(grab(js, "last_sealed_entry_offset") <= appended(tt),
          s"step $step NoSealPastOpen")
        val cursor = log.committedOffset(WalrusLog.SharedGroup, tt)
        assert(cursor == consumed(tt) && cursor >= 0 && cursor <= appended(tt),
          s"step $step CursorBounds")
        assert(log.entryCount(tt) == appended(tt) - consumed(tt), s"step $step count")
      }
    }
    // drain fully: everything appended is delivered exactly once, in order
    topics.foreach { t =>
      val rest = log.batchRead(t, Long.MaxValue, entriesCap = 2000)
      val all = (consumed(t) until appended(t)).map(o => s"$t-$o")
      assert(rest.map(e => str(e.value)) == all, s"final drain $t")
    }
  }

  test("time-based retention reclaims old batches, keeps accounting + reads") {
    import java.sql.Timestamp
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    def ingest(vals: Seq[String], ts: Long): Unit = {
      val df = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => (("t"), v.getBytes("UTF-8"), i.toLong) })
        .toDF("topic", "value", "_seq")
      log.appendDF(df, Some(org.apache.spark.sql.functions.col("_seq")), new Timestamp(ts))
    }
    ingest(Seq("old0", "old1"), ts = 1000L)
    ingest(Seq("new0", "new1"), ts = 5000L)
    assert(log.vacuumOlderThan(3000L) == Seq(0L))
    // accounting survives: offsets/counts unchanged, data of batch 0 gone
    assert(log.totalAppended("t") == 4L)
    assert(log.entryCount("t") == 4L) // count vs shared cursor, storage-independent
    val remaining = log.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(remaining.map(e => str(e.value)) == Seq("new0", "new1"))
    assert(remaining.map(_.offset) == Seq(2L, 3L))
    // idempotent + survives restart
    assert(log.vacuumOlderThan(3000L).isEmpty)
    log.close()
    val re = new WalrusLog(spark, root)
    assert(re.totalAppended("t") == 4L)
    assert(re.batchRead("t", Long.MaxValue, checkpoint = false)
      .map(e => str(e.value)) == Seq("new0", "new1"))
    // a consumer whose cursor is BELOW the reclaimed range resumes at the
    // first retained offset — no stall, no duplicate delivery
    val first = re.batchRead("t", Long.MaxValue, checkpoint = true,
      group = "g", entriesCap = 1)
    assert(first.map(_.offset) == Seq(2L))
    assert(re.committedOffset("g", "t") == 3L) // jumped the gap
    val second = re.batchRead("t", Long.MaxValue, checkpoint = true, group = "g")
    assert(second.map(_.offset) == Seq(3L))
    assert(re.batchRead("t", Long.MaxValue, checkpoint = true, group = "g").isEmpty)
  }

  test("size-based retention: a batch is reclaimed only when EVERY topic is beyond the cap") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.col
    val log = new WalrusLog(spark, tempRoot())
    def ingest(rows: Seq[(String, String)]): Unit = {
      val df = spark.createDataFrame(rows.zipWithIndex.map {
        case ((t, v), i) => (t, v.getBytes("UTF-8"), i.toLong) })
        .toDF("topic", "value", "_seq")
      log.appendDF(df, Some(col("_seq")), new Timestamp(1000L))
    }
    ingest(Seq(("t", "aaaaaaaaaa"), ("u", "bbbbbbbbbb"))) // batch 0: t=10B u=10B
    ingest(Seq(("t", "cccccccccc")))                      // batch 1: t=10B
    ingest(Seq(("t", "dddddddddd"), ("u", "eeeeeeeeee"))) // batch 2: t=10B u=10B
    // cap 15: topic u has only 10 newer bytes for batch 0 — u PINS the
    // whole batch even though t has 20; batch 1's t has 10 < 15 too
    assert(log.vacuumToBytes(15L).isEmpty)
    // cap 10: batch 0 (t newer 20 >= 10, u newer 10 >= 10) and batch 1
    // (t newer 10 >= 10) reclaim; batch 2 is the retained tail
    assert(log.vacuumToBytes(10L) == Seq(0L, 1L))
    assert(log.totalAppended("t") == 3L) // accounting survives
    val rem = log.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(rem.map(e => str(e.value)) == Seq("dddddddddd"))
    assert(rem.map(_.offset) == Seq(2L))
    assert(log.batchRead("u", Long.MaxValue, checkpoint = false)
      .map(_.offset) == Seq(1L))
    // idempotent: survivors' newer-bytes don't change when older batches go
    assert(log.vacuumToBytes(10L).isEmpty)
  }

  test("snapshot manifest: per-commit topic ranges in commit order, vacuumed batches absent") {
    val log = new WalrusLog(spark, tempRoot())
    log.batchAppend("a", (0 until 3).map(i => bytes(s"aa$i"))) // 9 bytes
    log.batchAppend("b", (0 until 2).map(i => bytes(s"bbb$i"))) // 8 bytes
    log.batchAppend("a", (0 until 2).map(i => bytes(s"a$i")))  // 4 bytes
    val m1 = log.snapshotManifest()
      .map { case (seq, t, r) => (seq, t, (r.start, r.end, r.bytes)) }
    assert(m1 == Seq((1L, "a", (0L, 3L, 9L)),
      (2L, "b", (0L, 2L, 8L)),
      (3L, "a", (3L, 5L, 4L))))
    // ingest ranges carry exact ts bounds (lo == hi == commit instant)
    assert(log.snapshotManifest().forall { case (_, _, r) => r.tsUsMin == r.tsUsMax })
    // storage reclamation drops reclaimed batches from the manifest
    // (a snapshot ships only data that still exists)
    assert(log.vacuumOlderThan(System.currentTimeMillis() + 1000).size == 3)
    assert(log.snapshotManifest().isEmpty)
  }

  test("arrivalOrder ingest pins shuffle-lineage inputs and stays dense") {
    import org.apache.spark.sql.functions._
    val log = new WalrusLog(spark, tempRoot())
    // repartition puts a shuffle in the lineage → the order-stability
    // check must engage the local-checkpoint pin; offsets stay dense
    val df = spark.range(0, 600, 1, 4)
      .select(concat(lit("t"), (col("id") % 2).cast("string")).as("topic"),
        encode(col("id").cast("string"), "UTF-8").as("value"))
      .repartition(3)
    log.appendDF(df, arrivalOrder = true)
    (0 until 2).foreach { t =>
      val got = log.batchRead(s"t$t", Long.MaxValue, checkpoint = false)
      assert(got.size == 300, s"topic t$t")
      assert(got.map(_.offset) == (0L until 300L), s"offsets of t$t")
      // every value lands exactly once
      assert(got.map(e => str(e.value).toLong).toSet ==
        (0 until 600).filter(_ % 2 == t).map(_.toLong).toSet)
    }
  }

  test("arrivalOrder ingest: interleaved topics get dense per-topic offsets") {
    import org.apache.spark.sql.functions._
    val log = new WalrusLog(spark, tempRoot())
    // topics interleave within every partition: t0,t1,t2,t0,t1,...
    val df = spark.range(0, 999, 1, 4)
      .select(concat(lit("t"), (col("id") % 3).cast("string")).as("topic"),
        encode(col("id").cast("string"), "UTF-8").as("value"))
    log.appendDF(df, arrivalOrder = true)
    (0 until 3).foreach { t =>
      val got = log.batchRead(s"t$t", Long.MaxValue, checkpoint = false)
      assert(got.size == 333, s"topic t$t")
      assert(got.map(_.offset) == (0L until 333L), s"offsets of t$t")
      // offsets follow (partition, position) order: values of topic t are
      // t, t+3, t+6, ... within each original partition
      val vals = got.map(e => str(e.value).toLong)
      assert(vals.grouped(84).zipWithIndex.forall { case (chunk, _) =>
        chunk.sliding(2).forall(p => p.size < 2 || p(1) - p(0) == 3 || p(1) < p(0))
      })
    }
    assert(log.entryCounts == Map("t0" -> 333L, "t1" -> 333L, "t2" -> 333L))
  }

  test("seek repositions a group's cursor with clamping; groups independent") {
    val log = new WalrusLog(spark, tempRoot())
    (0 until 5).foreach(i => log.append("t", bytes(s"e$i")))
    log.batchRead("t", Long.MaxValue, checkpoint = true, group = "g")
    assert(log.committedOffset("g", "t") == 5)
    log.seek("g", "t", 2)
    assert(log.committedOffset("g", "t") == 2)
    val replay = log.batchRead("t", Long.MaxValue, checkpoint = true, group = "g")
    assert(replay.map(e => str(e.value)) == Seq("e2", "e3", "e4"))
    log.seek("g", "t", 99)
    assert(log.committedOffset("g", "t") == 5) // clamped to appended
    log.seek("g", "t", -3)
    assert(log.committedOffset("g", "t") == 0) // clamped to 0
    // other groups and the shared cursor are untouched
    assert(log.committedOffset("other", "t") == 0)
    assert(log.entryCount("t") == 5)
    // seek state survives restart (persisted eagerly)
    log.seek("g", "t", 3)
    val reopened = new WalrusLog(spark, log.root)
    assert(reopened.committedOffset("g", "t") == 3)
  }

  test("small-commit single-job path: offsets identical to the range path") {
    import org.apache.spark.sql.functions._
    // Interleaved topics + an explicit seq with gaps, shuffled input order.
    val df = spark.range(0, 2000, 1, 4)
      .select(concat(lit("t"), (col("id") % 7).cast("string")).as("topic"),
        encode(col("id").cast("string"), "UTF-8").as("value"),
        (lit(1999) - col("id")).as("_seq")) // reverse order via seq
    val small = new WalrusLog(spark, tempRoot()) // plan stats << threshold
    val ranged = new WalrusLog(spark, tempRoot(),
      cfg = LogConfig(smallCommitMaxBytes = 0L)) // force the range path
    // one pinned ingest instant: both paths must record identical ranges
    // INCLUDING the ts bounds (both stamp every entry with the commit ts)
    val ts = new java.sql.Timestamp(1704067200000L)
    val recS = small.appendDF(df, Some(col("_seq")), ts)
    val recR = ranged.appendDF(df, Some(col("_seq")), ts)
    assert(recS.topics == recR.topics) // same (start, end, bytes, ts) ranges
    (0 until 7).foreach { t =>
      val s = small.batchRead(s"t$t", Long.MaxValue, checkpoint = false)
      val r = ranged.batchRead(s"t$t", Long.MaxValue, checkpoint = false)
      assert(s.map(_.offset) == r.map(_.offset), s"offsets of t$t")
      assert(s.map(e => str(e.value)) == r.map(e => str(e.value)),
        s"per-topic order of t$t")
      // seq is reversed id, so payloads come back in descending id order
      val vals = s.map(e => str(e.value).toLong)
      assert(vals == vals.sortBy(-_), s"seq order of t$t")
    }
    // a second small commit continues offsets from the catalog base
    small.append("t0", bytes("tail"))
    val again = small.batchRead("t0", Long.MaxValue, checkpoint = false)
    assert(again.map(_.offset) == (0L until again.size.toLong))
    assert(str(again.last.value) == "tail")
  }

  test("small-commit path runs exactly one Spark job") {
    import org.apache.spark.sql.functions._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val log = new WalrusLog(spark, tempRoot())
    val df = spark.range(0, 1000, 1, 4)
      .select(concat(lit("t"), (col("id") % 3).cast("string")).as("topic"),
        encode(col("id").cast("string"), "UTF-8").as("value"))
    spark.sparkContext.addSparkListener(listener)
    try {
      log.appendDF(df)
      // listener events are async; drain the bus before asserting
      org.apache.spark.sql.graft.GraftSqlInternal.waitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1, s"expected 1 ingest job, saw ${jobs.get()}")
    assert(log.entryCounts.values.sum == 1000L)
  }

  test("consumer assignment: coverage, balance, and contiguity invariants") {
    val topics = Seq("epsilon", "alpha", "delta", "beta", "gamma") // unsorted in
    val rr = ConsumerAssignment.roundRobin(topics, 3)
    val rg = ConsumerAssignment.range(topics, 3)
    // every topic assigned exactly once, to a valid consumer
    for (a <- Seq(rr, rg)) {
      assert(a.map(_._1).sorted == topics.sorted)
      assert(a.forall { case (_, c) => c >= 0 && c < 3 })
    }
    // round-robin: counts differ by at most 1
    val rrCounts = rr.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(rrCounts.max - rrCounts.min <= 1)
    // range: each consumer owns a contiguous run of the sorted topic list
    val sortedTopics = topics.sorted
    val rgMap = rg.toMap
    val runs = sortedTopics.map(rgMap)
    assert(runs == runs.sorted) // consumer ids non-decreasing along sorted topics
    assert(runs == Seq(0, 0, 1, 1, 2)) // ceil(5/3)=2-sized blocks, tail smaller
    // deterministic regardless of input order
    assert(ConsumerAssignment.roundRobin(topics.reverse, 3).toMap == rr.toMap)
    // single consumer owns everything; n > topics leaves tail consumers empty
    assert(ConsumerAssignment.range(topics, 1).forall(_._2 == 0))
    assert(ConsumerAssignment.roundRobin(topics, 8).map(_._2).distinct.size == 5)
  }

  test("walrus_log TVF: a log root is a FROM-clause source from plain SQL") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 7).foreach(i => log.append("ta", bytes(s"a$i")))
    (0 until 3).foreach(i => log.append("tb", bytes(s"b$i")))
    graft.GraftExtensions.registerWalrusLogTvf(spark)
    val one = spark.sql(
      s"SELECT topic, count(*) AS n FROM walrus_log('$root') GROUP BY topic ORDER BY topic")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(one == Seq("ta" -> 7L, "tb" -> 3L))
    val filtered = spark.sql(
      s"""SELECT offset, decode(value, 'UTF-8') AS v
         |FROM walrus_log('$root', 'tb') ORDER BY offset""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(filtered == Seq((0L, "b0"), (1L, "b1"), (2L, "b2")))
    // third arg addresses a non-default namespace; '' topic = all topics
    val other = new WalrusLog(spark, root, "ns2")
    other.append("tx", bytes("x0"))
    assert(spark.sql(
      s"SELECT count(*) FROM walrus_log('$root', '', 'ns2')").head.getLong(0) == 1L)
    assert(spark.sql(
      s"SELECT count(*) FROM walrus_log('$root', 'tx', 'ns2')").head.getLong(0) == 1L)
    assert(spark.sql(
      s"SELECT count(*) FROM walrus_log('$root', 'tb', 'ns2')").head.getLong(0) == 0L)
  }

  test("offsetForTimestamp: earliest offset at-or-after the probe, None past the end") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    val t0 = 1704067200000L
    def commit(ids: Seq[Int], ts: Long): Unit =
      log.appendDF(ids.map(i => ("t", bytes(s"v$i"), i.toLong))
          .toDF("topic", "value", "_seq"), Some(col("_seq")),
        new java.sql.Timestamp(ts))
    commit(Seq(0, 1, 2), t0)        // offsets 0..2 stamped t0
    commit(Seq(3, 4), t0 + 60000)   // offsets 3..4 stamped t0+60s
    assert(log.offsetForTimestamp("t", new java.sql.Timestamp(t0 - 1)).contains(0L))
    assert(log.offsetForTimestamp("t", new java.sql.Timestamp(t0)).contains(0L))
    // between commits: only the later commit qualifies
    assert(log.offsetForTimestamp("t", new java.sql.Timestamp(t0 + 1)).contains(3L))
    assert(log.offsetForTimestamp("t", new java.sql.Timestamp(t0 + 60000)).contains(3L))
    // past everything / unknown topic -> None
    assert(log.offsetForTimestamp("t", new java.sql.Timestamp(t0 + 60001)).isEmpty)
    assert(log.offsetForTimestamp("ghost", new java.sql.Timestamp(t0)).isEmpty)
  }

  test("walrus_topics TVF: STATE as a table (entries, bytes, segments)") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    (0 until 4).foreach(i => log.append("tx", bytes(s"x$i")))
    log.append("ty", bytes("y0"))
    graft.GraftExtensions.registerWalrusLogTvf(spark)
    val got = spark.sql(
      s"""SELECT topic, entries, bytes, current_segment
         |FROM walrus_topics('$root') ORDER BY topic""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2, t._4)).toSeq == Seq(("tx", 4L, 0L), ("ty", 1L, 0L)))
    assert(got.forall(_._3 > 0)) // bytes include the 256 B per-entry meta
  }

  test("walrus_namespaces TVF: per-namespace totals federate one root") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root, "tenant-a")
    a.append("t1", bytes("a0")); a.append("t1", bytes("a1"))
    a.append("t2", bytes("a2"))
    val b = new WalrusLog(spark, root, "tenant-b")
    b.append("t1", bytes("b0"))
    b.seek("g", "t1", 1L) // one consumer group in b only
    b.close()
    graft.GraftExtensions.registerWalrusLogTvf(spark)
    val got = spark.sql(
      s"""SELECT namespace, topics, entries, groups, commits
         |FROM walrus_namespaces('$root') ORDER BY namespace""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(("tenant-a", 2L, 3L, 0L, 3L),
      ("tenant-b", 1L, 1L, 1L, 1L)), got.toSeq)
  }

  test("bloom positions: forced-odd step keeps all k probes distinct") {
    import graft.operators.Sketches
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, expr}
    import scala.jdk.CollectionConverters._
    // an even double-hash step on a power-of-two m collapses probe
    // positions (halving effective k); the forced-odd h2 is coprime with
    // m, so all k positions are distinct for every hash — checked over a
    // dense sample including hashes whose raw (h div m) residue is even
    val m = 64
    val df = spark.createDataFrame(
      (0L until 4096L).map(Row(_)).asJava,
      StructType(Seq(StructField("h", LongType))))
    val bad = df.select(Sketches.bloomPositions(col("h"), m, k = 8).as("pos"))
      .where(expr("size(array_distinct(pos)) <> size(pos)"))
      .count()
    assert(bad == 0L, s"$bad hashes produced colliding probe positions")
  }

  test("bloom function pair: no false negatives, prefilter actually prunes") {
    import spark.implicits._
    graft.GraftExtensions.registerBloomFunctions(spark)
    (0L until 2000L).toDF("fk").createOrReplaceTempView("bloom_fact")
    (0L until 2000L by 100).toDF("dk").createOrReplaceTempView("bloom_dim")
    // prefiltered fact ⊇ dim keys (no false negatives)...
    val pre = spark.sql(
      """SELECT fk FROM bloom_fact
        |WHERE bloom_might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(dk)) FROM bloom_dim),
        |  xxhash64(fk))""".stripMargin).collect().map(_.getLong(0)).toSet
    assert((0L until 2000L by 100).forall(pre.contains))
    // ...and it prunes (few FPs at this density)
    assert(pre.size < 200, s"bloom passed ${pre.size} of 2000")
    // exact join after the prefilter = exact join without it
    val joined = spark.sql(
      """SELECT count(*) FROM bloom_fact JOIN bloom_dim ON fk = dk
        |WHERE bloom_might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(dk)) FROM bloom_dim),
        |  xxhash64(fk))""".stripMargin).head().getLong(0)
    assert(joined == 20L)
  }

  test("sticky rebalance: survivors keep their topics, only orphans move") {
    val topics = (0 until 11).map(i => f"topic$i%02d")
    val old = ConsumerAssignment.roundRobin(topics, 4).toMap
    // shrink 4 -> 3: exactly consumer 3's topics are orphaned
    val next = ConsumerAssignment.sticky(topics, old, 3).toMap
    assert(next.keySet == topics.toSet)
    assert(next.values.forall(c => c >= 0 && c < 3))
    topics.foreach { t =>
      if (old(t) < 3) assert(next(t) == old(t), s"survivor-owned $t moved")
    }
    val orphans = topics.filter(old(_) == 3).sorted
    assert(orphans.zipWithIndex.forall { case (t, i) => next(t) == i % 3 })
    // grow 3 -> 5: nothing moves at all (sticky keeps every assignment)
    val grown = ConsumerAssignment.sticky(topics, next, 5).toMap
    assert(grown == next)
    // brand-new topics (absent from previous) are dealt like orphans
    val withNew = ConsumerAssignment.sticky(topics :+ "aaaa-new", next, 3).toMap
    assert(withNew("aaaa-new") == 0) // first orphan in sorted order
    topics.foreach(t => assert(withNew(t) == next(t)))
  }

  test("idempotent producer: retries drop by per-producer watermark, survive reopen") {
    import org.apache.spark.sql.functions.{col, encode}
    import spark.implicits._
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    def df(rows: Seq[(String, String, String, Long)]) =
      rows.toDF("topic", "v", "producer", "seq")
        .select(col("topic"), encode(col("v"), "UTF-8").as("value"),
          col("producer"), col("seq"))

    // fresh seqs from two producers
    val (r1, d1) = log.appendDFIdempotent(
      df(Seq(("a", "x0", "p1", 0L), ("a", "x1", "p1", 1L), ("b", "y0", "p2", 10L))),
      col("producer"), col("seq"))
    assert(r1.id >= 0 && d1 == 0)
    assert(log.producerHighWatermark("p1") == 1L)
    assert(log.producerHighWatermark("p2") == 10L)

    // overlap retry: p1 resends 0-1 plus fresh 2; p2 fully duplicate
    val (r2, d2) = log.appendDFIdempotent(
      df(Seq(("a", "x0", "p1", 0L), ("a", "x1", "p1", 1L), ("a", "x2", "p1", 2L),
        ("b", "y0", "p2", 10L))),
      col("producer"), col("seq"))
    assert(r2.id >= 0 && d2 == 3)
    assert(log.totalAppended("a") == 3L && log.totalAppended("b") == 1L)

    // reopen: watermarks persisted; a full-duplicate retry commits NOTHING
    log.close()
    val re = new WalrusLog(spark, root)
    assert(re.producerHighWatermark("p1") == 2L)
    assert(re.producerHighWatermark("p2") == 10L)
    val (r3, d3) = re.appendDFIdempotent(
      df(Seq(("a", "x2", "p1", 2L), ("b", "y0", "p2", 10L))),
      col("producer"), col("seq"))
    assert(r3.id == -1L && d3 == 2)

    // a new producer after reopen appends cleanly; offsets stay dense and
    // every payload is visible exactly once
    val (r4, d4) = re.appendDFIdempotent(
      df(Seq(("a", "z", "p3", 7L))), col("producer"), col("seq"))
    assert(r4.id >= 0 && d4 == 0 && re.producerHighWatermark("p3") == 7L)
    val vis = re.toDF().select("topic", "offset").as[(String, Long)].collect().sorted
    assert(vis.sameElements(Seq(("a", 0L), ("a", 1L), ("a", 2L), ("a", 3L), ("b", 0L))))
    // unknown producer sentinel
    assert(re.producerHighWatermark("nope") == Long.MinValue)
    re.close()
  }

  // reference: lease fencing + per-key CAS (distributed-walrus/src/
  // bucket.rs:44-51, src/wal/runtime/writer.rs:148) — our single-
  // filesystem analogue is create-exclusive commit publication: a
  // collision between two live writers fails-stop, never clobbers.
  test("commit publication is create-exclusive: the second writer throws") {
    val dir = java.nio.file.Paths.get(tempRoot())
    val target = dir.resolve("000000000042.json")
    WalrusLog.writeAtomicNew(target, """{"winner":true}""")
    val e = intercept[IllegalStateException] {
      WalrusLog.writeAtomicNew(target, """{"clobber":true}""")
    }
    assert(e.getMessage.contains("collision"))
    // the winner's content is untouched and no temp debris remains
    assert(new String(Files.readAllBytes(target), "UTF-8") == """{"winner":true}""")
    import scala.jdk.CollectionConverters._
    val left = Files.list(dir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("000000000042.json"))
    finally left.close()
  }

  // TLA+ ReadProgress (reference DistributedWalrus.tla:195-203) at the
  // engine surface: with a byte budget below every entry size, each
  // consuming batchRead still delivers exactly the next entry (>= 1
  // guarantee), so the cursor strictly advances to nextOffset and the
  // caught-up read returns empty.
  test("read progress: tiny-budget batchReads drain the topic with strict advancement") {
    val log = new WalrusLog(spark, tempRoot())
    val n = 12
    log.batchAppend("t", (0 until n).map(i => bytes(s"payload-$i")))
    var consumed = 0L
    var steps = 0
    while (consumed < n && steps <= n) {
      val got = log.batchRead("t", maxBytes = 1L, checkpoint = true)
      assert(got.nonEmpty, s"behind cursor at $consumed must advance")
      assert(got.head.offset == consumed, "in-order delivery from the cursor")
      consumed += got.size
      steps += 1
    }
    assert(consumed == n && steps == n)
    assert(log.batchRead("t", 1L, checkpoint = true).isEmpty)
  }

  // Kafka-style transactions reduced to the atomic-commit visibility
  // primitive: staged appends publish as ONE commit; abort/open spools
  // never become visible; a crash-abandoned spool aborts on recovery.
  test("transactions: multi-append commit is atomic, abort/open stay invisible") {
    import spark.implicits._
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    def df(tag: String, n: Int) =
      (0 until n).map(i => ("t", bytes(s"$tag-$i"), i.toLong))
        .toDF("topic", "value", "_seq")

    val t1 = log.beginTxn()
    t1.append(df("a", 3), org.apache.spark.sql.functions.col("_seq"))
    // nothing visible before commit
    assert(log.batchRead("t", 1 << 20, checkpoint = false).isEmpty)
    t1.append(df("b", 2), org.apache.spark.sql.functions.col("_seq"))
    val t2 = log.beginTxn()
    t2.append(df("x", 4), org.apache.spark.sql.functions.col("_seq"))
    t2.abort()
    val t3 = log.beginTxn() // abandoned open
    t3.append(df("y", 1), org.apache.spark.sql.functions.col("_seq"))
    t1.commit()

    // visible = exactly t1's two appends, in (append, seq) order
    val got = log.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(e => str(e.value)) ==
      Seq("a-0", "a-1", "a-2", "b-0", "b-1"))
    assert(got.map(_.offset) == (0L until 5L))
    // handle lifecycle is enforced
    intercept[IllegalArgumentException] {
      t1.append(df("z", 1), org.apache.spark.sql.functions.col("_seq"))
    }
    intercept[IllegalArgumentException] { t2.commit() }

    // restart with the abandoned t3 spool still FRESH: the age-gated
    // sweep (ADVICE r12 — another live writer may be mid-transaction)
    // preserves it, and it stays invisible to reads either way
    val reopened = new WalrusLog(spark, root)
    assert(reopened.batchRead("t", 1 << 20, checkpoint = false).size == 5)
    assert(WalrusLog.listDir(
      java.nio.file.Paths.get(root, "default", "txns")).nonEmpty)
    // once the spool has gone cold (newest mtime in its tree past the
    // gate), a restart crash-aborts it: swept, committed data unchanged
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60L * 60 * 1000)
    WalrusLog.listDir(java.nio.file.Paths.get(root, "default", "txns"))
      .foreach { spool =>
        val walk = Files.walk(spool)
        try walk.forEach(p => Files.setLastModifiedTime(p, old))
        finally walk.close()
      }
    val reswept = new WalrusLog(spark, root)
    assert(reswept.batchRead("t", 1 << 20, checkpoint = false).size == 5)
    assert(WalrusLog.listDir(
      java.nio.file.Paths.get(root, "default", "txns")).isEmpty)
  }

  test("transactions: out-of-range seq fails at stage time, spool stays unpublishable") {
    import spark.implicits._
    val log = new WalrusLog(spark, tempRoot())
    val t = log.beginTxn()
    val bad = Seq(("t", bytes("v"), -1L)).toDF("topic", "value", "_seq")
    intercept[org.apache.spark.SparkThrowable] {
      t.append(bad, org.apache.spark.sql.functions.col("_seq"))
    }
    t.abort()
    assert(log.batchRead("t", 1 << 20, checkpoint = false).isEmpty)
  }

  test("manifest recovery: reopened state matches full-parse recovery; ≤ 2 manifests kept") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root, cfg = LogConfig(manifestEveryCommits = 3))
    (0 until 8).foreach(i => log.append("t", bytes(s"e$i")))
    (0 until 3).foreach(_ => log.readNext("t", checkpoint = true))
    log.close()
    // manifests rolled at commits 3 and 6 (asOf ids 2 and 5); recovery
    // replays the newest one + the 2-file JSON tail and must land on the
    // exact same state as parsing all 8 commit files
    val mdir = java.nio.file.Paths.get(root, "default", "manifests")
    val mf = WalrusLog.manifestFiles(mdir)
    assert(mf.nonEmpty && mf.size <= 2, s"manifests: ${mf.size}")
    assert(mf.flatMap(WalrusLog.manifestIdOf).lastOption.contains(5L))
    val re = new WalrusLog(spark, root, cfg = LogConfig(manifestEveryCommits = 3))
    assert(re.totalAppended("t") == 8)
    assert(re.entryCount("t") == 5)
    assert(str(re.readNext("t").get.value) == "e3")
    assert(re.toDF().count() == 8)
  }

  test("vacuum rewrites the covering manifest before reclaiming storage") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root, cfg = LogConfig(manifestEveryCommits = 2))
    (0 until 4).foreach(i => log.append("t", bytes(s"e$i")))
    (0 until 4).foreach(_ => log.readNext("t", checkpoint = true)) // consume all
    val reclaimed = log.vacuum()
    assert(reclaimed == Seq(0L, 1L, 2L, 3L))
    val nsDir = java.nio.file.Paths.get(root, "default")
    // the manifest-accelerated cold listing agrees flag-for-flag with a
    // full parse of every commit JSON (the vacuumed bits reached the
    // manifest, not just the rewritten tail files)
    val viaManifest = graft.sources.WalrusLogSource.listCommits(nsDir)
      .map { case (c, v) => (c.id, v) }
    val full = graft.sources.WalrusLogSource.commitFiles(nsDir)
      .map(graft.sources.WalrusLogSource.parseCommit)
      .map { case (c, v) => (c.id, v) }
    assert(viaManifest == full.toVector)
    assert(viaManifest.forall(_._2), s"all batches vacuumed: $viaManifest")
    // recovery from the manifest never resurrects reclaimed storage
    log.close()
    val re = new WalrusLog(spark, root, cfg = LogConfig(manifestEveryCommits = 2))
    assert(re.totalAppended("t") == 4) // offsets/counts survive (storage-only)
    assert(re.toDF().count() == 0)     // no read error on missing dirs
  }

  test("manifest v2 truncates reclaimed commits; counters, recovery, id high-water survive") {
    val root = tempRoot()
    val cfg = LogConfig(manifestEveryCommits = 2)
    val log = new WalrusLog(spark, root, cfg = cfg)
    (0 until 4).foreach(i => log.append("t", bytes(s"e$i"))) // manifests at asOf 1, 3
    (0 until 2).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum() == Seq(0L, 1L)) // reclaim the consumed prefix
    // the rewritten manifest TRUNCATED the reclaimed commits (Raft-snapshot
    // semantics) — only the live tail is serialized, state is rolled up
    val nsDir = java.nio.file.Paths.get(root, "default")
    val m = WalrusLog.readNewestManifest(nsDir).get
    assert(m.entries.map(_.id) == Seq(2L, 3L))
    assert(m.state.exists(s => s.topic == "t" && s.nextOffset == 4L))
    assert(m.publishedCount == 4L)
    assert(m.vacuumedCount == 2L)
    // METRICS totals stay monotone across the shed
    assert(log.metricsJson().contains("\"commits\":4"))
    assert(log.metricsJson().contains("\"vacuumed_batches\":2"))
    log.close()
    // recovery restores rolled-up state from the snapshot without replaying
    // the dropped records
    val re = new WalrusLog(spark, root, cfg = cfg)
    assert(re.totalAppended("t") == 4L)
    assert(re.toDF().count() == 2L)
    assert(str(re.readNext("t").get.value) == "e2")
    assert(re.metricsJson().contains("\"commits\":4"))
    // drop EVERYTHING: after a full vacuum the id high-water mark must
    // survive the snapshot (no reuse of a dropped id)
    (0 until 1).foreach(_ => re.readNext("t", checkpoint = true)) // e3
    assert(re.vacuum() == Seq(2L, 3L))
    re.close()
    val re2 = new WalrusLog(spark, root, cfg = cfg)
    val rec = re2.appendDF(
      spark.createDataFrame(Seq(("t", bytes("fresh")))).toDF("topic", "value"))
    assert(rec.id == 4L, s"dropped ids must not be reused, got ${rec.id}")
    assert(re2.totalAppended("t") == 5L)
    assert(re2.metricsJson().contains("\"vacuumed_batches\":4"))
  }

  test("a reclaimed epoch's tag still no-ops a replayed sink commit, across restart") {
    val root = tempRoot()
    val cfg = LogConfig(manifestEveryCommits = 2)
    val log = new WalrusLog(spark, root, cfg = cfg)
    def df(v: String) = spark.createDataFrame(Seq(("t", bytes(v)))).toDF("topic", "value")
    log.appendDF(df("x0"), tag = Some("v1sink-q-0"))
    log.appendDF(df("x1"), tag = Some("v1sink-q-1"))
    (0 until 2).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum() == Seq(0L, 1L)) // both epochs dropped from the manifest
    // a restart can only replay the NEWEST epoch of a query — its tag is
    // kept in the bounded per-family map and the replay is a no-op
    val replay = log.appendDF(df("x1-again"), tag = Some("v1sink-q-1"))
    assert(replay.id == 1L)
    assert(log.totalAppended("t") == 2L)
    log.close()
    // the tag map rides the manifest across restarts
    val re = new WalrusLog(spark, root, cfg = cfg)
    val replay2 = re.appendDF(df("x1-again"), tag = Some("v1sink-q-1"))
    assert(replay2.id == 1L)
    assert(re.totalAppended("t") == 2L)
  }

  test("manual tags dropped from the manifest stay verbatim: a replay of ANY of them no-ops") {
    // ADVICE r8: family collapsing is only sound for sink epoch tags
    // (older epochs sit behind the sink's own checkpoint). A hand-tagged
    // append has no such ordering — after 'job-1' AND 'job-2' are shed
    // from the manifest, a replayed 'job-1' must still be recognized.
    val root = tempRoot()
    val cfg = LogConfig(manifestEveryCommits = 2)
    val log = new WalrusLog(spark, root, cfg = cfg)
    def df(v: String) = spark.createDataFrame(Seq(("t", bytes(v)))).toDF("topic", "value")
    log.appendDF(df("x0"), tag = Some("job-1"))
    log.appendDF(df("x1"), tag = Some("job-2"))
    log.appendDF(df("s0"), tag = Some("v1sink-q-0"))
    log.appendDF(df("s1"), tag = Some("v1sink-q-1"))
    (0 until 4).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum() == Seq(0L, 1L, 2L, 3L)) // all four shed from the manifest
    // the OLDER manual tag must still no-op (the collapse bug re-committed it)
    val replay = log.appendDF(df("x0-again"), tag = Some("job-1"))
    assert(replay.id == 0L, s"older manual tag re-committed as ${replay.id}")
    assert(log.totalAppended("t") == 4L)
    // sink families still collapse to one entry (boundedness preserved)
    val nsDir = java.nio.file.Paths.get(root, "default")
    val dropped = WalrusLog.readNewestManifest(nsDir).get.droppedTags
    assert(dropped.contains("job-1") && dropped.contains("job-2"), dropped.toString)
    assert(dropped.contains("v1sink-q-1") && !dropped.contains("v1sink-q-0"),
      s"sink family must keep only the newest epoch: $dropped")
    log.close()
    // and the verbatim manual tags ride the manifest across restarts
    val re = new WalrusLog(spark, root, cfg = cfg)
    assert(re.appendDF(df("x0-again"), tag = Some("job-1")).id == 0L)
    assert(re.totalAppended("t") == 4L)
  }

  test("v2 recovery does not resurrect a topic dropped AFTER the manifest snapshot") {
    // ADVICE r8: the snapshot captured 'gone' live; the later DROP's
    // on-disk tombstone (higher generation) must win on restart.
    val root = tempRoot()
    val cfg = LogConfig(manifestEveryCommits = 2)
    val log = new WalrusLog(spark, root, cfg = cfg)
    log.ensureTopic("gone")
    log.append("t", bytes("e0"))
    log.append("t", bytes("e1")) // manifest written here, snapshotting 'gone'
    val nsDir = java.nio.file.Paths.get(root, "default")
    assert(WalrusLog.readNewestManifest(nsDir).exists(
      _.state.exists(_.topic == "gone")))
    assert(log.unregisterTopic("gone")) // tombstone lands AFTER the snapshot
    val re = new WalrusLog(spark, root, cfg = cfg)
    assert(!re.topicNames.contains("gone"),
      s"snapshot resurrected a dropped topic: ${re.topicNames}")
    assert(re.topicNames.contains("t"))
    // re-registration after the drop still works and survives restart
    re.ensureTopic("gone")
    val re2 = new WalrusLog(spark, root, cfg = cfg)
    assert(re2.topicNames.contains("gone"))
  }

  test("recovery sweeps data dirs orphaned by a crash between manifest rewrite and dir delete") {
    val root = tempRoot()
    val cfg = LogConfig(manifestEveryCommits = 2)
    val log = new WalrusLog(spark, root, cfg = cfg)
    (0 until 3).foreach(i => log.append("t", bytes(s"e$i")))
    (0 until 2).foreach(_ => log.readNext("t", checkpoint = true))
    assert(log.vacuum() == Seq(0L, 1L)) // manifest sheds 0 and 1; dirs deleted
    val nsDir = java.nio.file.Paths.get(root, "default")
    // simulate the crash window: the manifest no longer lists batch 0, but
    // its data dir "survived" (re-created here) — nothing in the old code
    // would ever delete it again
    val orphan = nsDir.resolve("data").resolve("batch=0").resolve("topic=t")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), bytes("junk"))
    // an in-flight writer's dir (id past the manifest watermark, commit not
    // yet published) must NOT be swept
    val inflight = nsDir.resolve("data").resolve("batch=99")
    Files.createDirectories(inflight)
    val re = new WalrusLog(spark, root, cfg = cfg)
    assert(!Files.exists(nsDir.resolve("data").resolve("batch=0")),
      "orphaned reclaimed dir must be swept on recovery")
    assert(Files.exists(inflight), "in-flight batch dir must survive recovery")
    assert(re.toDF().count() == 1L) // only e2 remains visible
    assert(str(re.readNext("t").get.value) == "e2")
  }

  test("clean-file merge is generation-ordered: a stale instance neither resurrects a drop nor rewinds a newer marker") {
    val root = tempRoot()
    val nsDir = java.nio.file.Paths.get(root, "default")
    def diskClean: Map[String, CleanState] = {
      implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(new String(
        Files.readAllBytes(nsDir.resolve("topic_clean.json")), "UTF-8"))
        .extract[CleanFile].topics
    }
    val a = new WalrusLog(spark, root)
    a.ensureTopic("keep"); a.ensureTopic("doomed")
    val b = new WalrusLog(spark, root) // second live instance, loads both
    // b advances 'keep' and drops 'doomed'; a's in-memory copies are stale
    b.markTopicDirty("keep")
    val keepGen = diskClean("keep").generation
    assert(b.unregisterTopic("doomed"))
    // a's next persist must neither resurrect the drop (its live entry is
    // below the tombstone generation) nor rewind keep's newer marker
    a.ensureTopic("later")
    val after = diskClean
    assert(after("doomed").dropped, s"drop resurrected: $after")
    assert(after("keep").generation == keepGen,
      s"stale instance rewound keep: ${after("keep")} vs gen $keepGen")
    assert(!WalrusLog.registeredTopicsOnDisk(nsDir).contains("doomed"))
    // re-registration outranks the tombstone (REGISTER is idempotent and
    // re-creatable in the reference) — and survives further stale persists
    b.ensureTopic("doomed")
    assert(!diskClean("doomed").dropped)
    assert(WalrusLog.registeredTopicsOnDisk(nsDir).contains("doomed"))
    // a fresh open never rehydrates tombstoned topics
    val c = new WalrusLog(spark, root)
    assert(c.topicNames.toSet.contains("doomed")) // re-registered above
    assert(b.unregisterTopic("doomed"))
    val d = new WalrusLog(spark, root)
    assert(!d.topicNames.contains("doomed"))
  }

  test("two live instances racing one namespace: the loser resyncs, retries, and re-sequences") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root)
    val b = new WalrusLog(spark, root) // both instances now plan batch id 0
    a.batchAppend("t", Seq(bytes("from-a")))
    // b's stale nextBatchId collides with a's published commit — the
    // collision loser resyncs from disk (folding a's commit into its
    // state) and retries within LogConfig.commitCollisionRetries, landing
    // its batch AFTER a's with correctly re-sequenced offsets (reference:
    // resync + retry ×2, distributed-walrus/src/controller/mod.rs:165-187)
    b.batchAppend("t", Seq(bytes("from-b")))
    assert(b.entryCount("t") == 2L) // b observed a's entry during resync
    val fresh = new WalrusLog(spark, root)
    assert(fresh.entryCount("t") == 2L)
    val got = fresh.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(_.offset) == Seq(0L, 1L))
    assert(got.map(e => str(e.value)) == Seq("from-a", "from-b"))
  }

  test("stale instance's compact retries past a foreign commit and folds it in") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root)
    val b = new WalrusLog(spark, root)
    a.batchAppend("t", Seq(bytes("a0")))
    a.batchAppend("t", Seq(bytes("a1")))
    // b is stale (planned id 0): its append collides, resyncs, lands id 2
    b.batchAppend("t", Seq(bytes("b0")))
    // a is now the stale one (nextBatchId = 2 — b's id): its compact claim
    // collides, resyncs (folding b's commit INTO the source set), retries —
    // the compacted batch must carry all three entries at their offsets
    val cid = a.compact()
    assert(cid.exists(_ >= 3L), s"compact id: $cid")
    val fresh = new WalrusLog(spark, root)
    assert(fresh.entryCount("t") == 3L)
    val got = fresh.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(_.offset) == Seq(0L, 1L, 2L))
    assert(got.map(e => str(e.value)) == Seq("a0", "a1", "b0"))
  }

  test("four stale instances interleave appends; every batch lands, offsets dense") {
    val root = tempRoot()
    val logs = (0 until 4).map(_ => new WalrusLog(spark, root))
    // every append after the first collides (each instance is stale by up
    // to 3 foreign commits between its own turns) — one resync per append
    // must land it, well inside the default retry budget
    for (round <- 0 until 2; (log, i) <- logs.zipWithIndex)
      log.batchAppend("t", Seq(bytes(s"w$i-r$round")))
    val fresh = new WalrusLog(spark, root)
    assert(fresh.entryCount("t") == 8L)
    val got = fresh.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(_.offset) == (0L until 8L))
    val want = for (round <- 0 until 2; i <- 0 until 4) yield s"w$i-r$round"
    assert(got.map(e => str(e.value)) == want)
  }

  /** Fabricate a `batch=<id>.stage-<tag>` leftover exactly as a dead
    * writeEntryRows would leave it, with every mtime in the tree set to
    * `ageMs` ago (the sweep's staleness signal is newest-mtime-in-tree). */
  private def fabricateStage(root: String, name: String, ageMs: Long): java.nio.file.Path = {
    val stage = java.nio.file.Paths.get(root, "default", "data", name)
    Files.createDirectories(stage.resolve("topic=t"))
    Files.write(stage.resolve("topic=t").resolve("part-junk.parquet"),
      "junk".getBytes("UTF-8"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - ageMs)
    Seq(stage, stage.resolve("topic=t"),
        stage.resolve("topic=t").resolve("part-junk.parquet"))
      .foreach(Files.setLastModifiedTime(_, old))
    stage
  }

  test("recovery sweeps a crashed writer's STALE abandoned staging dir") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root)
    a.batchAppend("t", Seq(bytes("e0")))
    // a writer crashed between staging its batch and claiming the id,
    // long enough ago that the age gate (newest mtime in the tree older
    // than staleStageSweepMs) proves no live writer is still in phase 2
    val stage = fabricateStage(root, "batch=7.stage-dead-writer",
      ageMs = 60L * 60 * 1000)
    val fresh = new WalrusLog(spark, root)
    assert(!Files.exists(stage), "stale staging dir not swept at recovery")
    assert(fresh.entryCount("t") == 1L) // never visible, log intact
    fresh.batchAppend("t", Seq(bytes("e1")))
    assert(fresh.entryCount("t") == 2L)
    val got = fresh.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(e => str(e.value)) == Seq("e0", "e1"))
  }

  test("recovery PRESERVES a fresh staging dir — a concurrent open must not race a live writer's in-flight stage (ADVICE r12)") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root)
    a.batchAppend("t", Seq(bytes("e0")))
    // another LIVE writer is mid-phase-2: its stage dir is seconds old.
    // Any open (read-only reader, the walrus_namespaces TVF) runs
    // recover() — it must leave the in-flight stage alone.
    val live = fabricateStage(root, "batch=7.stage-live-writer", ageMs = 0L)
    val reader = new WalrusLog(spark, root)
    assert(Files.exists(live), "concurrent open swept a LIVE writer's stage")
    assert(reader.entryCount("t") == 1L) // stage invisible to reads either way
    // staleStageSweepMs = 0 restores the unconditional sweep (single-writer)
    new WalrusLog(spark, root, cfg = LogConfig(staleStageSweepMs = 0L))
    assert(!Files.exists(live), "staleStageSweepMs=0 should sweep unconditionally")
  }

  test("claimGapWaitMs bounds the claimed-but-unpublished wait before fail-stop") {
    val root = tempRoot()
    val cfg = LogConfig(claimGapWaitMs = 200L)
    val a = new WalrusLog(spark, root, cfg = cfg)
    a.batchAppend("t", Seq(bytes("e0")))
    // a claimant crashed mid-gap: the NEXT batch id (1) is claimed on disk
    // (non-empty, so the atomic rename fails) but its commit never
    // published — the resync must wait claimGapWaitMs then fail-stop
    val claimed = java.nio.file.Paths.get(root, "default", "data", "batch=1", "topic=t")
    Files.createDirectories(claimed)
    Files.write(claimed.resolve("part-junk.parquet"), bytes("junk"))
    val t0 = System.nanoTime()
    intercept[CommitCollisionException] {
      a.batchAppend("t", Seq(bytes("e1"))) // claims id 1 → collision → resync
    }
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(waitedMs < 20000L,
      s"fail-stop took ${waitedMs} ms — claimGapWaitMs=200 not honored")
  }

  test("commitCollisionRetries = 0 restores pure fail-stop: exactly one append wins") {
    val root = tempRoot()
    val cfg = LogConfig(commitCollisionRetries = 0)
    val a = new WalrusLog(spark, root, cfg = cfg)
    val b = new WalrusLog(spark, root, cfg = cfg)
    a.batchAppend("t", Seq(bytes("from-a")))
    intercept[CommitCollisionException] {
      b.batchAppend("t", Seq(bytes("from-b")))
    }
    val fresh = new WalrusLog(spark, root)
    assert(fresh.entryCount("t") == 1L)
    val got = fresh.batchRead("t", 1 << 20, checkpoint = false)
    assert(got.map(e => str(e.value)) == Seq("from-a"))
  }

  // ---- cursor/byte-offset reads: driver-side, covering commits only ----

  private def garble(root: String, batch: Long): Unit = {
    val dir = java.nio.file.Paths.get(root, "default", "data", s"batch=$batch")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.write(f, bytes("not a parquet file")))
    finally s.close()
  }

  /** Spark jobs started while `body` runs. The bus is drained on both
    * sides, so earlier jobs' events never reach the count. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.GraftSqlInternal.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.GraftSqlInternal.waitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("readNext/batchRead/batchReadFromByteOffset run no Spark job") {
    val log = new WalrusLog(spark, tempRoot())
    (0 until 3).foreach(b => log.batchAppend("t", (0 until 4).map(i => bytes(s"b$b-$i"))))
    val jobs = jobsDuring {
      assert(log.readNext("t").map(e => str(e.value)).contains("b0-0"))
      assert(log.batchRead("t", Long.MaxValue, checkpoint = false).size == 11)
      assert(log.batchRead("t", Long.MaxValue, entriesCap = 5).map(_.offset) == (1L to 5L))
      assert(log.batchReadFromByteOffset("t", 1 << 20, 256 + 2).head.offset == 0L)
      assert(log.readNext("ghost").isEmpty)
    }
    assert(jobs == 0, s"reads launched $jobs Spark jobs")
  }

  test("reads never touch a batch that does not cover the requested range") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", (0 until 4).map(i => bytes(s"a$i"))) // batch 0
    log.batchAppend("u", Seq(bytes("u0")))                     // batch 1
    log.batchAppend("t", (4 until 8).map(i => bytes(s"a$i"))) // batch 2
    (0 until 4).foreach(_ => log.readNext("t"))
    // batch 0 is behind the cursor, batch 1 holds another topic: neither
    // covers t's next window, so garbage in them must not matter
    garble(root, 0L)
    garble(root, 1L)
    val got = log.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(got.map(e => str(e.value)) == (4 until 8).map(i => s"a$i"))
    assert(str(log.readNext("t").get.value) == "a4")
    // byte offset inside batch 2 (4 entries of 256 + 2 B precede it)
    assert(log.batchReadFromByteOffset("t", 1 << 20, 4 * 258 + 256).head.offset == 4L)
    // a read whose window DOES cover the garbled batch fails loudly
    intercept[Exception](log.batchRead("u", Long.MaxValue, checkpoint = false))
  }

  test("a batchRead window crossing commit boundaries returns dense, ordered offsets") {
    import spark.implicits._
    val log = new WalrusLog(spark, tempRoot())
    (0 until 5).foreach { b =>
      // interleave another topic in the same commits
      log.appendDF(Seq(("t", bytes(s"t$b-0")), ("o", bytes("o")), ("t", bytes(s"t$b-1")),
        ("t", bytes(s"t$b-2"))).toDF("topic", "value"))
    }
    val first = log.batchRead("t", Long.MaxValue, entriesCap = 5)
    assert(first.map(_.offset) == (0L until 5L))
    assert(first.map(e => str(e.value)) == Seq("t0-0", "t0-1", "t0-2", "t1-0", "t1-1"))
    val second = log.batchRead("t", Long.MaxValue, entriesCap = 5)
    assert(second.map(_.offset) == (5L until 10L))
    // byte admission across a boundary stops at the budget (4 B entries)
    val third = log.batchRead("t", maxBytes = 12L)
    assert(third.map(_.offset) == Seq(10L, 11L, 12L))
    assert(log.batchRead("t", Long.MaxValue).map(_.offset) == Seq(13L, 14L))
    assert(log.committedOffset(WalrusLog.SharedGroup, "t") == 15L)
  }

  test("reads stay correct across a vacuumOlderThan gap and after compact()") {
    import java.sql.Timestamp
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    def ingest(vals: Seq[String], ts: Long): Unit = {
      val df = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) =>
        ("t", v.getBytes("UTF-8"), i.toLong) }).toDF("topic", "value", "_seq")
      log.appendDF(df, Some(org.apache.spark.sql.functions.col("_seq")), new Timestamp(ts))
    }
    ingest(Seq("old0", "old1"), ts = 1000L)
    ingest(Seq("mid0", "mid1"), ts = 5000L)
    ingest(Seq("new0", "new1"), ts = 6000L)
    assert(log.vacuumOlderThan(3000L) == Seq(0L))
    // cursor 0 sits in the gap: the window jumps to 2 and crosses into batch 2
    val got = log.batchRead("t", Long.MaxValue, group = "g", entriesCap = 3)
    assert(got.map(_.offset) == Seq(2L, 3L, 4L))
    assert(got.map(e => str(e.value)) == Seq("mid0", "mid1", "new0"))
    val fromByte = log.batchReadFromByteOffset("t", 1 << 20, 256 + 1)
    assert(fromByte.map(_.offset) == Seq(2L, 3L, 4L, 5L))
    assert(log.compact().isDefined)
    assert(log.batchRead("t", Long.MaxValue, checkpoint = false).map(_.offset) == (2L until 6L))
    assert(log.readNext("t", group = "g").map(e => str(e.value)).contains("new1"))
    val fromByteAfter = log.batchReadFromByteOffset("t", 1 << 20, 256 + 1)
    assert(fromByteAfter.map(e => (e.offset, str(e.value))) ==
      fromByte.map(e => (e.offset, str(e.value))))
  }

  test("read timestamps equal toDF()'s ts for the same (topic, offset)") {
    import java.sql.Timestamp
    val log = new WalrusLog(spark, tempRoot())
    Seq(1234567L, 1700000000123L, System.currentTimeMillis()).foreach { ms =>
      val df = spark.createDataFrame(Seq(("t", bytes(s"at-$ms")), ("t", bytes("x"))))
        .toDF("topic", "value")
      log.appendDF(df, ingestTs = new Timestamp(ms))
    }
    val expected = log.toDF().where("topic = 't'").select("offset", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val got = log.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(got.size == 6)
    got.foreach(e => assert(e.ts == expected(e.offset), s"offset ${e.offset}"))
    val fromByte = log.batchReadFromByteOffset("t", 1 << 20, 0L)
    fromByte.foreach(e => assert(e.ts == expected(e.offset), s"byte read, offset ${e.offset}"))
  }

  test("append and batchAppend commit on the driver: no Spark job") {
    val log = new WalrusLog(spark, tempRoot())
    val jobs = jobsDuring {
      log.append("t", bytes("e0"))
      log.batchAppend("t", (1 until 5).map(i => bytes(s"e$i")))
      log.append("u", bytes("u0"))
    }
    assert(jobs == 0, s"appends launched $jobs Spark jobs")
    val got = log.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(got.map(_.offset) == (0L until 5L))
    assert(got.map(e => str(e.value)) == (0 until 5).map(i => s"e$i"))
    assert(log.entryCount("u") == 1L)
  }

  /** Parquet footers of every data file under `batch=<id>`. */
  private def footers(root: String, id: Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = java.nio.file.Paths.get(root, "default", "data", s"batch=$id")
    val s = Files.walk(dir)
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    assert(files.nonEmpty, s"no data files under $dir")
    files.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), new org.apache.hadoop.conf.Configuration())
      val r = ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }
  }

  test("driver-side commits write the same file format as a small appendDF commit") {
    import org.apache.spark.sql.functions.col
    val vals = (0 until 6).map(i => bytes(s"payload-$i" * (i + 1)))
    val driverRoot = tempRoot()
    val driver = new WalrusLog(spark, driverRoot)
    driver.batchAppend("t", vals)
    def rows(log: WalrusLog) = log.toDF()
      .select("topic", "offset", "ts", "value", "checksum", "len").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2),
        str(r.getAs[Array[Byte]](3)), r.getLong(4), r.getInt(5))).toSeq.sortBy(_._2)
    val want = rows(driver)
    // the same entries, at the same ingest instant, through appendDF's
    // single-job small-commit path
    val dfRoot = tempRoot()
    val viaDf = new WalrusLog(spark, dfRoot)
    val df = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => ("t", v, i.toLong) })
      .toDF("topic", "value", "_seq")
    viaDf.appendDF(df, Some(col("_seq")), want.head._3)
    assert(rows(viaDf) == want)
    assert(want.map(_._2) == (0L until 6L))
    val (d, s) = (footers(driverRoot, 0L), footers(dfRoot, 0L))
    def schemas(fs: Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata]) =
      fs.map(_.getFileMetaData.getSchema).distinct
    def codecs(fs: Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata]) =
      fs.flatMap(_.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))).distinct
    assert(schemas(d) == schemas(s)) // names, types, repetition
    assert(schemas(d).head.getFields.asScala.map(_.getName) ==
      Seq("offset", "ts_us", "value", "checksum", "len"))
    assert(codecs(d) == codecs(s))
    assert(codecs(d).map(_.name) == Seq("SNAPPY"))
  }

  test("topic names that need path escaping round-trip through every read path") {
    val root = tempRoot()
    val log = new WalrusLog(spark, root)
    // Non-ASCII names need a JVM whose file-name charset (the locale's)
    // can encode them; under an ASCII locale the append fails loudly and
    // commits nothing instead of writing a mangled dir name.
    val fsCharset = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val (names, unencodable) = Seq("a b", "x/y", "k=v", "50%", "wälrus-日本")
      .partition(fsCharset.newEncoder().canEncode(_))
    unencodable.foreach { t =>
      intercept[java.nio.file.InvalidPathException](log.append(t, bytes("x")))
      assert(log.entryCount(t) == 0L)
    }
    names.foreach { t =>
      log.append(t, bytes(s"$t#0"))
      log.batchAppend(t, Seq(bytes(s"$t#1"), bytes(s"$t#2")))
    }
    val want = names.flatMap(t => (0 until 3).map(i => (t, i.toLong, s"$t#$i"))).toSet
    names.foreach { t =>
      val got = log.batchRead(t, Long.MaxValue, checkpoint = false)
      assert(got.map(e => (t, e.offset, str(e.value))).toSet ==
        want.filter(_._1 == t), s"batchRead of '$t'")
    }
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("topic", "offset", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), str(r.getAs[Array[Byte]](2)))).toSet
    assert(triples(log.toDF()) == want)
    assert(triples(graft.streaming.WalrusStreams.read(spark, root)) == want)
    assert(triples(graft.streaming.WalrusStreams.read(spark, root, topic = Some("x/y"))) ==
      want.filter(_._1 == "x/y"))
    val q = graft.streaming.WalrusStreams.readStream(spark, root)
      .writeStream.format("memory").queryName("escaped_topics").start()
    try {
      q.processAllAvailable()
      assert(triples(spark.table("escaped_topics")) == want)
    } finally q.stop()
  }

  test("a crash between staging and publishing: reopen sweeps the stage, offsets stay dense") {
    val root = tempRoot()
    val a = new WalrusLog(spark, root)
    a.batchAppend("t", Seq(bytes("e0"), bytes("e1")))
    a.batchAppend("t", Seq(bytes("lost")))
    // turn batch 1 back into the state a writer that died after writing
    // its stage dir leaves behind: real data files, no claim, no commit
    val data = java.nio.file.Paths.get(root, "default", "data")
    val stage = data.resolve("batch=1.stage-crashed")
    Files.move(data.resolve("batch=1"), stage)
    Files.delete(java.nio.file.Paths.get(root, "default", "commits", f"${1L}%012d.json"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60L * 60 * 1000)
    val s = Files.walk(stage)
    try s.iterator().asScala.toList.foreach(Files.setLastModifiedTime(_, old))
    finally s.close()
    val b = new WalrusLog(spark, root)
    assert(!Files.exists(stage), "stale stage dir not swept at reopen")
    assert(b.entryCount("t") == 2L)
    b.append("t", bytes("e2"))
    val got = b.batchRead("t", Long.MaxValue, checkpoint = false)
    assert(got.map(_.offset) == (0L until 3L))
    assert(got.map(e => str(e.value)) == Seq("e0", "e1", "e2"))
  }

  test("a strictly-at-once GET returns while another thread holds the log monitor") {
    val log = new WalrusLog(spark, tempRoot(), consistency = ReadConsistency.StrictlyAtOnce)
    log.append("t", bytes("e0"))
    val got = new java.util.concurrent.CompletableFuture[Option[WalrusEntry]]()
    // the monitor is what a commit, an appendDF job or a compact() holds
    log.synchronized {
      new Thread(() => got.complete(log.readNext("t"))).start()
      val e = got.get(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(e.map(x => str(x.value)).contains("e0"))
    }
    assert(log.committedOffset(WalrusLog.SharedGroup, "t") == 1L)
  }

  test("strictly-at-once GETs race appends, compaction and retention: exactly once, in order") {
    val log = new WalrusLog(spark, tempRoot(), consistency = ReadConsistency.StrictlyAtOnce)
    val topics = Seq("r0", "r1", "r2")
    val rand = new scala.util.Random(20261020L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(body: => Unit): Thread = {
      val th = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    // producers: value "<producer>:<seq>"; each producer's seqs grow per topic
    val appended = new java.util.concurrent.ConcurrentHashMap[String, String]() // value -> topic
    def producer(name: String, seed: Long, batched: Boolean): Thread = {
      val r = new scala.util.Random(seed)
      worker {
        var seq = 0
        while (!stop.get()) {
          val t = topics(r.nextInt(topics.size))
          val vs = (0 until (if (batched) 1 + r.nextInt(8) else 1)).map { _ =>
            seq += 1; s"$name:$seq" }
          if (batched) log.batchAppend(t, vs.map(bytes)) else log.append(t, bytes(vs.head))
          vs.foreach(appended.put(_, t))
        }
      }
    }
    // consumers: (topic, offset, value) in the order each one received them
    val received = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(String, Long, String)]]
    def consumer(): Thread = {
      val got = mutable.ArrayBuffer.empty[(String, Long, String)]
      received += got
      worker {
        var i = 0
        while (!stop.get()) {
          val t = topics(i % topics.size); i += 1
          log.readNext(t) match {
            case Some(e) => got += ((t, e.offset, str(e.value)))
            case None => Thread.sleep(1)
          }
          val (c, n) = (log.committedOffset(WalrusLog.SharedGroup, t), log.totalAppended(t))
          if (c > n) throw new AssertionError(s"$t: cursor $c past next offset $n")
        }
      }
    }
    val threads = Seq(producer("a1", rand.nextLong(), batched = false),
      producer("a2", rand.nextLong(), batched = false),
      producer("b", rand.nextLong(), batched = true), consumer(), consumer())
    // (topic, start, end) of every range time-based retention reclaimed
    val reclaimed = mutable.Set.empty[(String, Long, Long)]
    def ranges = log.snapshotManifest().map { case (_, t, r) => (t, r.start, r.end) }.toSet
    var compactNs = 0L; var rounds = 0
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    try {
      // at least 3 s, and until reads met a moved view three times (bounded)
      while (errors.isEmpty && elapsedS < 60 && (elapsedS < 3 || log.readRetries.get < 3)) {
        // pauses between the monitor-holding steps let the producers in
        val c0 = System.nanoTime()
        log.compact()
        compactNs += System.nanoTime() - c0; rounds += 1
        Thread.sleep(20 + rand.nextInt(100))
        log.synchronized {
          val before = ranges
          log.vacuumOlderThan(System.currentTimeMillis() - 20 - rand.nextInt(200))
          reclaimed ++= before -- ranges
        }
        log.vacuum()
        Thread.sleep(20 + rand.nextInt(100))
      }
    } finally { stop.set(true); threads.foreach(_.join()) }
    assert(errors.isEmpty, s"a worker failed: ${errors.asScala.headOption}")
    val drained = topics.flatMap(t => Iterator.continually(log.readNext(t)).takeWhile(_.isDefined)
      .map(o => (t, o.get.offset, str(o.get.value))))
    assert(log.readRetries.get > 0, "no read met a commit that left the view mid-read")
    for (t <- topics) {
      val mine = appended.asScala.collect { case (v, `t`) => v }.toSet
      assert(log.totalAppended(t) == mine.size.toLong, s"$t: acknowledged appends lost")
      // a cursor stops short of the next offset only in a reclaimed gap
      assert(log.committedOffset(WalrusLog.SharedGroup, t) <= log.totalAppended(t))
      val got = (received.flatten ++ drained).filter(_._1 == t)
      assert(got.map(_._2).distinct.size == got.size, s"$t: an offset was delivered twice")
      assert(got.map(_._3).distinct.size == got.size, s"$t: an entry was delivered twice")
      assert(got.forall(g => mine(g._3)), s"$t: delivered an entry of another topic")
      // in order: every consumer saw rising offsets, and offsets follow
      // each producer's append order
      (received :+ drained).foreach { seen =>
        val os = seen.filter(_._1 == t).map(_._2)
        assert(os == os.sorted && os.distinct == os, s"$t: a consumer went backwards")
      }
      got.sortBy(_._2).groupBy(_._3.takeWhile(_ != ':')).foreach { case (p, es) =>
        val seqs = es.map(_._3.dropWhile(_ != ':').tail.toInt)
        assert(seqs == seqs.sorted, s"$t: producer $p's entries out of order")
      }
      // what was never delivered, retention reclaimed
      val lost = (0L until log.totalAppended(t)).toSet -- got.map(_._2)
      val unaccounted = lost.filterNot(o =>
        reclaimed.exists { case (rt, lo, hi) => rt == t && lo <= o && o < hi })
      assert(unaccounted.isEmpty, s"$t: undelivered and not reclaimed: ${unaccounted.toSeq.sorted.take(10)}")
    }
    info(f"${elapsedS}%.1f s, ${appended.size} entries, ${log.readRetries.get} retried " +
      s"reads, ${reclaimed.size} ranges reclaimed by retention, $rounds rounds, ${compactNs / 1000000} ms compacting")
  }

  test("append/GET mix over 8 Zipf topics: no loss, no duplicate, per-topic order") {
    val log = new WalrusLog(spark, tempRoot(), consistency = ReadConsistency.StrictlyAtOnce)
    val topics = (0 until 8).map(i => s"z$i")
    // Zipf(s = 1.1) topic pick, z0 the hottest
    val rand = new scala.util.Random(7L)
    val cum = (1 to topics.size).map(k => 1.0 / math.pow(k, 1.1)).scanLeft(0.0)(_ + _).tail
    def pick(): Int = { val x = rand.nextDouble() * cum.last; cum.indexWhere(_ >= x) }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sent = topics.map(_ -> mutable.ArrayBuffer.empty[String]).toMap
    val got = topics.map(_ -> mutable.ArrayBuffer.empty[(Long, String)]).toMap
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val putter = new Thread(() => try {
      var i = 0
      while (!stop.get()) {
        val t = topics(pick()); val v = s"v$i"; i += 1
        log.append(t, bytes(v))
        sent(t) += v
      }
    } catch { case e: Throwable => errors.add(e) })
    val getter = new Thread(() => try {
      var i = 0
      while (!stop.get()) {
        val t = topics(i % topics.size); i += 1
        log.readNext(t).foreach(e => got(t) += ((e.offset, str(e.value))))
      }
    } catch { case e: Throwable => errors.add(e) })
    val runS = 15
    putter.start(); getter.start()
    Thread.sleep(runS * 1000L)
    stop.set(true); putter.join(); getter.join()
    val appends = sent.valuesIterator.map(_.size).sum
    val backlog = appends - got.valuesIterator.map(_.size).sum
    topics.foreach(t => Iterator.continually(log.readNext(t)).takeWhile(_.isDefined)
      .foreach(e => got(t) += ((e.get.offset, str(e.get.value)))))
    assert(errors.isEmpty, s"a client failed: ${errors.asScala.headOption}")
    for (t <- topics) {
      assert(got(t).map(_._2) == sent(t), s"$t: lost, duplicated or reordered entries")
      assert(got(t).map(_._1) == sent(t).indices.map(_.toLong), s"$t: offsets not dense")
    }
    info(f"append/GET mix: ${appends.toDouble / runS}%.0f appends/s, " +
      s"$appends appends, backlog $backlog entries at stop")
  }
}
