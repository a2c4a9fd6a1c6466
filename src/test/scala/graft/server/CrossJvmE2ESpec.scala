package graft.server

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.log.WalrusLog

/** Cross-PROCESS end-to-end: real second JVMs against one namespace /
  * one TCP server — the counterpart of the reference's spawned-node tests
  * (distributed-walrus/tests/cli_e2e.rs:24-123; Makefile:22-47
  * cluster-test-*), which the in-process WalrusServerSpec and the
  * same-JVM two-instance race cannot cover. Slow by nature (JVM spawns;
  * the append test boots a second SparkSession) — tagged via the suite
  * name for selective runs, but kept in the default `sbt test` sweep. */
class CrossJvmE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("CrossJvmE2ESpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // same module opens build.sbt gives forked JVMs (a child SparkSession
  // on JDK 17 needs them; socket/NIO-only modes do not)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def spawnChild(args: Seq[String], withSpark: Boolean): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++
      (if (withSpark) addOpens ++ Seq("-Xmx2g") else Seq("-Xmx256m")) ++
      Seq("graft.log.E2EChild") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    // classpath via env (the forked-test classpath is jar-per-jar long)
    pb.environment().put("CLASSPATH", System.getProperty("java.class.path"))
    pb.redirectError(ProcessBuilder.Redirect.DISCARD) // Spark logs
    pb.start()
  }

  private def stdoutLines(p: Process, timeoutSec: Long = 180): Seq[String] = {
    val ok = p.waitFor(timeoutSec, TimeUnit.SECONDS)
    if (!ok) { p.destroyForcibly(); fail(s"child JVM timed out after ${timeoutSec}s") }
    scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
  }

  test("second JVM drives the 5-command wire protocol against this process's server") {
    val root = graft.TestDirs.create("xjvm-proto-").toString
    val log = new WalrusLog(spark, root)
    val server = new WalrusServer(log)
    try {
      val child = spawnChild(Seq("protocol", server.boundPort.toString), withSpark = false)
      val out = stdoutLines(child)
      assert(child.exitValue() == 0, s"child failed: $out")
      assert(out.lastOption.contains("PROTOCOL OK"), s"unexpected child output: $out")
      // the child's PUTs are durable in THIS process's log: 3 rounds × 2
      assert(log.totalAppended("e2e") == 6)
      // and its GETs advanced the shared cursor past everything
      assert(log.readNext("e2e", checkpoint = false).isEmpty)
    } finally server.close()
  }

  test("commit collision across real processes: exactly one of two racing JVMs wins") {
    val dir = graft.TestDirs.create("xjvm-collide-")
    val target = dir.resolve("000000000042.json")
    val a = spawnChild(Seq("collide", target.toString, "writer-a"), withSpark = false)
    val b = spawnChild(Seq("collide", target.toString, "writer-b"), withSpark = false)
    // wait for both to report READY, then drop the barrier file so the
    // two create-exclusive attempts genuinely overlap
    val ra = new java.io.BufferedReader(new java.io.InputStreamReader(a.getInputStream))
    val rb = new java.io.BufferedReader(new java.io.InputStreamReader(b.getInputStream))
    assert(ra.readLine() == "READY" && rb.readLine() == "READY")
    Files.writeString(Paths.get(target.toString + ".go"), "go")
    val (resA, resB) = (ra.readLine(), rb.readLine())
    assert(a.waitFor(30, TimeUnit.SECONDS) && b.waitFor(30, TimeUnit.SECONDS))
    assert(Set(resA, resB) == Set("WIN", "LOSE"),
      s"expected one winner and one loser, got a=$resA b=$resB")
    // the surviving content is the winner's, intact
    val content = Files.readString(target)
    val winner = if (resA == "WIN") "writer-a" else "writer-b"
    assert(content == winner)
    // no stray temp files left behind by either attempt
    val s = Files.list(dir)
    val leftovers =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".tmp")).toList
      } finally s.close()
    assert(leftovers.isEmpty, s"tmp leftovers: $leftovers")
  }

  test("two racing writer JVMs: the collision loser resyncs and retries; both batches land") {
    // The reference's losing writer re-syncs with the controller and
    // retries ×2 (distributed-walrus/src/controller/mod.rs:165-187,
    // 321-371); here the create-exclusive claim is the fence and the
    // retry is LogConfig.commitCollisionRetries. Both children open the
    // namespace FIRST (each believes nextBatchId = 0), so the commit race
    // is guaranteed, not timing-dependent: whichever publishes second MUST
    // collide and re-sequence its offsets after the winner's.
    val root = graft.TestDirs.create("xjvm-race-").toString
    val barrier = Paths.get(root, "go.barrier")
    val a = spawnChild(Seq("racingappend", root, "r", "5", "alpha",
      barrier.toString), withSpark = true)
    val b = spawnChild(Seq("racingappend", root, "r", "5", "beta",
      barrier.toString), withSpark = true)
    val ra = new java.io.BufferedReader(new java.io.InputStreamReader(a.getInputStream))
    val rb = new java.io.BufferedReader(new java.io.InputStreamReader(b.getInputStream))
    assert(ra.readLine() == "READY" && rb.readLine() == "READY")
    Files.writeString(barrier, "go")
    val (la, lb) = (ra.readLine(), rb.readLine())
    assert(a.waitFor(180, TimeUnit.SECONDS) && b.waitFor(180, TimeUnit.SECONDS))
    assert(a.exitValue() == 0 && b.exitValue() == 0,
      s"a child failed: a=$la b=$lb")
    // the winner counted its own 5; the loser resynced and counted all 10
    assert(Set(la, lb).map(_.stripPrefix("APPENDED ").trim.toLong) == Set(5L, 10L),
      s"unexpected counts: a=$la b=$lb")
    // reopen here: both batches durable, offsets dense and re-sequenced —
    // each writer's batch contiguous and internally ordered
    val reopened = new WalrusLog(spark, root)
    assert(reopened.entryCount("r") == 10)
    val entries = reopened.batchRead("r", 1 << 20, checkpoint = false)
    assert(entries.map(_.offset) == (0L until 10L))
    val vals = entries.map(e => new String(e.value))
    val blocks = vals.grouped(5).toSeq
    val names = blocks.map(_.head.takeWhile(_ != '-'))
    assert(names.toSet == Set("alpha", "beta"), s"blocks interleaved: $vals")
    blocks.zip(names).foreach { case (blk, nm) =>
      assert(blk == (0 until 5).map(i => s"$nm-$i"), s"block out of order: $blk")
    }
    // no staging leftovers from the losing attempt
    val dataDir = Paths.get(root, "default", "data")
    val s = Files.list(dataDir)
    val leftovers =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(".stage-")).toList
      } finally s.close()
    assert(leftovers.isEmpty, s"staging leftovers: $leftovers")
  }

  test("second JVM appends through its own WalrusLog; reopen here observes its commits") {
    val root = graft.TestDirs.create("xjvm-append-").toString
    val log = new WalrusLog(spark, root)
    log.batchAppend("shared", Seq("parent-0", "parent-1").map(_.getBytes("UTF-8")))
    log.close()
    val child = spawnChild(Seq("append", root, "shared", "3"), withSpark = true)
    val out = stdoutLines(child)
    assert(child.exitValue() == 0, s"child failed: $out")
    assert(out.lastOption.contains("APPENDED 5"), s"unexpected child output: $out")
    // recovery in THIS process replays the child's commits: dense offsets,
    // parent's entries then the child's, checksums intact
    val reopened = new WalrusLog(spark, root)
    assert(reopened.entryCount("shared") == 5)
    val entries = reopened.batchRead("shared", 1 << 20, checkpoint = false)
    assert(entries.map(_.offset) == (0L until 5L))
    assert(entries.map(e => new String(e.value)) ==
      Seq("parent-0", "parent-1", "child-0", "child-1", "child-2"))
  }

  test("read_committed across a crash window: a JVM killed mid-transaction leaks nothing") {
    // The Kafka isolation.level=read_committed analogue, spec'd where it
    // actually bites: a writer process stages a transaction DURABLY and
    // dies (halt, not exit — no cleanup runs). The spool must be
    // invisible to every reader surface before recovery, and recovery
    // must abort it (the reference's rollback-invisibility shape,
    // rollback_recovery.rs; Kafka's transaction-timeout abort).
    val root = graft.TestDirs.create("xjvm-txn-").toString
    val log = new WalrusLog(spark, root)
    log.batchAppend("t", Seq("committed-0", "committed-1").map(_.getBytes("UTF-8")))
    log.close()
    val child = spawnChild(Seq("stagecrash", root, "t", "4"), withSpark = true)
    val out = stdoutLines(child)
    assert(child.exitValue() == 137, s"child should halt(137): $out")
    val staged = out.collectFirst { case l if l.startsWith("STAGED ") =>
      Paths.get(l.stripPrefix("STAGED ")) }
    assert(staged.exists(Files.exists(_)),
      s"the crashed child's spool must survive on disk: $out")
    // 1. invisible to the V2 batch scan (no recovery involved: the scan
    //    reads commits/, and the spool was never committed)
    val batch = spark.read.format("walruslog").option("path", root).load()
    assert(batch.count() == 2L, "batch scan must see only committed rows")
    // 2. invisible to the streaming source, end-to-end
    import org.apache.spark.sql.functions.col
    val name = "xjvm_txn_iso"
    val q = spark.readStream.format("walruslog").option("path", root).load()
      .select(col("topic"), col("value"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        graft.TestDirs.create("xjvm-txn-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(name).count() == 2L,
      "stream must deliver only committed rows")
    // 3. a reopen inside the freshness window PRESERVES the spool (the
    //    age-gated sweep, ADVICE r12 — from disk alone a just-crashed
    //    writer is indistinguishable from a live one mid-transaction) but
    //    the spool stays invisible to every surface regardless
    val early = new WalrusLog(spark, root)
    assert(staged.forall(Files.exists(_)),
      "a fresh spool must survive an early reopen (live-writer safety)")
    assert(early.entryCount("t") == 2)
    // 4. once cold (newest mtime in the tree past staleStageSweepMs),
    //    recovery ABORTS the abandoned spool (deletion IS the abort) and
    //    the log keeps working; the staged rows can never appear
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60L * 60 * 1000)
    staged.foreach { spool =>
      val walk = Files.walk(spool)
      try walk.forEach(p => Files.setLastModifiedTime(p, old))
      finally walk.close()
    }
    val reopened = new WalrusLog(spark, root)
    assert(staged.forall(!Files.exists(_)),
      "recovery must sweep the abandoned transaction spool once stale")
    assert(reopened.entryCount("t") == 2)
    reopened.append("t", "after-crash".getBytes("UTF-8"))
    val values = reopened.batchRead("t", 1 << 20, checkpoint = false)
      .map(e => new String(e.value))
    assert(values == Seq("committed-0", "committed-1", "after-crash"))
  }
}
