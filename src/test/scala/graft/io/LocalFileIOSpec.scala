package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.WalrusLog
import graft.streaming.WalrusStreams

/** Test-only `othr:` scheme: the raw local filesystem under another name,
  * so scheme dispatch can be checked without a remote store. */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("othr:///")
  override def getScheme: String = "othr"
}

/** `FileContext` binding of [[OtherSchemeFs]]. */
class OtherSchemeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new OtherSchemeFs, conf, "othr", false)

/** Local file IO of the log and of stream checkpoints: no child process,
  * and a checkpoint manager that stays compatible with Spark's default
  * one on the same directory. The session here is a plain one (Hadoop's
  * checksummed `LocalFileSystem`, no project settings), as an embedding
  * application would build it. */
class LocalFileIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("LocalFileIOSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val temps = scala.collection.mutable.ArrayBuffer.empty[JPath]

  override def afterAll(): Unit = {
    spark.stop()
    temps.foreach(WalrusLog.deleteRecursively)
  }

  private def tempDir(prefix: String): JPath = {
    val d = graft.TestDirs.create(prefix)
    temps += d
    d
  }
  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Command lines (with their callers) of every process the JVM started
    * while `body` ran (JFR `jdk.ProcessStart`). Processes a JDK `Cleaner`
    * starts are left out: they clean up objects that became unreachable
    * before `body` (in a full test run, Spark deletes the artifact dirs of
    * sessions earlier suites stopped with `rm -rf`), not work `body` did. */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    // Spark's executor heartbeat reads the page size with `getconf` once
    // per JVM, on its first poll; run that one-off first, so the recording
    // holds only what `body` started
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("spawns-", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq.flatMap { e =>
        val callers = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(fr => fr.getMethod.getType.getName + "." + fr.getMethod.getName)
        if (callers.exists(_.startsWith("jdk.internal.ref.Cleaner"))) None
        else Some(e.getString("command") + " @ " + callers.take(12).mkString(" < "))
      }
    } finally { rec.close(); Files.delete(f) }
  }

  test("log commits and checkpointed readStream triggers start no process") {
    val root = tempDir("lfio-log-").toString
    val ckpt = tempDir("lfio-ckpt-").resolve("q").toString
    val log = new WalrusLog(spark, root)
    var batches = 0L
    var compacted = Option.empty[Long]
    val spawned = spawnsDuring {
      log.append("t", bytes("a0"))
      log.batchAppend("t", (1 to 4).map(i => bytes(s"a$i")))
      log.appendDF(spark.createDataFrame(Seq(("u", bytes("b0")), ("t", bytes("b1"))))
        .toDF("topic", "value"))
      val q = WalrusStreams.readStream(spark, root)
        .groupBy("topic").count()
        .writeStream.format("memory").queryName("lfio_tail")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()
      try {
        q.processAllAvailable()
        log.batchAppend("u", Seq(bytes("c0"), bytes("c1")))
        q.processAllAvailable()
        log.append("t", bytes("d0"))
        q.processAllAvailable()
        batches = q.lastProgress.batchId + 1
      } finally q.stop()
      compacted = log.compact()
    }
    assert(batches == 3)
    assert(compacted.isDefined)
    assert(log.batchRead("t", Long.MaxValue, checkpoint = false).size == 7)
    assert(spark.table("lfio_tail").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("t" -> 7L, "u" -> 3L))
    assert(spawned.isEmpty, s"${spawned.size} processes started: ${spawned.distinct.take(5)}")
  }

  test("the checkpoint manager dispatches on the path's scheme") {
    val conf = new Configuration()
    conf.set("fs.othr.impl", classOf[OtherSchemeFs].getName)
    conf.set("fs.othr.impl.disable.cache", "true")
    def under(p: String, c: Configuration = conf) =
      new LocalCheckpointFileManager(new Path(p), c).underlying
    // `fs` is protected in Scala, a public accessor in bytecode
    def fsOf(fm: CheckpointFileManager): FileSystem =
      classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fm)
        .asInstanceOf[FileSystem]
    val dir = tempDir("lfio-scheme-")
    for (p <- Seq(s"file:$dir", dir.toString)) {
      under(p) match {
        case fm: FileSystemBasedCheckpointFileManager =>
          assert(fsOf(fm).isInstanceOf[ForkFreeLocalFileSystem], p)
        case other => fail(s"$p: $other")
      }
    }
    // another scheme gets Spark's own choice: FileContext when the scheme
    // has a FileContext binding, the FileSystem-based manager otherwise
    val fsOnly = under(s"othr://$dir")
    assert(fsOnly.getClass == classOf[FileSystemBasedCheckpointFileManager])
    assert(fsOf(fsOnly).isInstanceOf[OtherSchemeFs])
    val withFc = new Configuration(conf)
    withFc.set("fs.AbstractFileSystem.othr.impl", classOf[OtherSchemeAfs].getName)
    assert(under(s"othr://$dir", withFc).isInstanceOf[FileContextBasedCheckpointFileManager])
    // the default Spark would have picked for the same conf
    assert(CheckpointFileManager.create(new Path(s"othr://$dir"), withFc).getClass ==
      classOf[FileContextBasedCheckpointFileManager])
  }

  test("overwriting a checksummed file drops its stale .crc") {
    val dir = tempDir("lfio-crc-")
    val file = new Path(dir.toUri.toString, "1.delta")
    val checked = new LocalFileSystem()
    checked.initialize(URI.create("file:///"), new Configuration())
    val out = checked.create(file)
    out.write(bytes("old contents, checksummed"))
    out.close()
    assert(Files.exists(dir.resolve(".1.delta.crc")))

    val fm = new LocalCheckpointFileManager(new Path(dir.toUri.toString), new Configuration())
    val fresh = bytes("new contents written through the rename-based manager")
    val s = fm.createAtomic(file, overwriteIfPossible = true)
    s.write(fresh)
    s.close()
    assert(!Files.exists(dir.resolve(".1.delta.crc")))
    val in = checked.open(file)
    val back = try in.readAllBytes() catch {
      case e: ChecksumException => fail(s"stale checksum survived: $e")
    } finally in.close()
    assert(back.sameElements(fresh))
  }

  test("a stateful checkpoint moves between the default manager and this one") {
    val root = tempDir("lfio-move-log-").toString
    val ckpt = tempDir("lfio-move-ckpt-").resolve("q").toString
    val log = new WalrusLog(spark, root)
    val key = LocalCheckpointFileManager.ConfKey
    var expected = Seq.empty[(String, Long)] // (topic, offset) of every row
    def add(n: Int): Unit = {
      val topics = Seq("a", "b", "c")
      val rows = (0 until n).map(i => topics(i % 3) -> bytes(s"v$i"))
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, vs) =>
        val base = expected.count(_._1 == t).toLong
        log.batchAppend(t, vs.map(_._2))
        expected ++= vs.indices.map(i => t -> (base + i))
      }
    }
    // per topic: row count and offset sum, both from state — a row
    // delivered twice or lost changes one of them
    def run(sink: String): Map[String, (Long, Long)] = {
      val q = WalrusStreams.readStream(spark, root)
        .groupBy("topic").agg(count(lit(1)).as("n"), sum("offset").as("s"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(sink).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    def want: Map[String, (Long, Long)] = expected.groupBy(_._1).map { case (t, rs) =>
      t -> (rs.size.toLong, rs.map(_._2).sum)
    }
    // Spark's default manager, then a re-run of the last batch under ours:
    // the batch's commit file is gone, so offsets and state deltas of that
    // batch are written again, over files that carry .crc sidecars
    def lastCommit: JPath = Files.list(java.nio.file.Paths.get(ckpt, "commits")).iterator()
      .asScala.filter(_.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
    try {
      spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
      add(9); assert(run("lfio_m1") == want)
      add(6); assert(run("lfio_m2") == want)
      val crcs = Files.walk(java.nio.file.Paths.get(ckpt)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".crc"))
      assert(crcs > 0, "the default manager wrote no .crc sidecars")
      val c = lastCommit
      Files.delete(c)
      Files.deleteIfExists(c.resolveSibling(s".${c.getFileName}.crc"))

      spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
      add(5); assert(run("lfio_m3") == want)
      // the re-run batch rewrote state version (batch + 1) of every
      // partition; none of those files may keep the old sidecar
      val rewritten = s"${c.getFileName.toString.toLong + 1}.delta"
      val deltas = Files.walk(java.nio.file.Paths.get(ckpt, "state")).iterator().asScala
        .filter(_.getFileName.toString == rewritten).toSeq
      assert(deltas.size == 4)
      val stale = deltas.map(d => d.resolveSibling(s".$rewritten.crc")).filter(Files.exists(_))
      assert(stale.isEmpty, s"stale sidecars: $stale")
      add(4); assert(run("lfio_m4") == want)

      // back to the default manager, whose checksummed reads must accept
      // every file this one wrote or overwrote
      spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
      add(7); assert(run("lfio_m5") == want)
    } finally spark.conf.unset(key)
  }

  test("permission bits match RawLocalFileSystem's for files and directories") {
    val conf = new Configuration()
    val raw = new RawLocalFileSystem(); raw.initialize(URI.create("file:///"), conf)
    val ours = new ForkFreeLocalFileSystem(); ours.initialize(URI.create("file:///"), conf)
    val dir = tempDir("lfio-perm-")
    def mode(p: Path): Int =
      Files.getAttribute(java.nio.file.Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff
    // every 7th mode, plus 755, 644, 700, 777 and (sticky) 1777
    val modes = ((0 until 512 by 7) ++ Seq(0x1ed, 0x1a4, 0x1c0, 0x1ff, 0x3ff)).distinct
    for (m <- modes; (fs, tag) <- Seq(raw -> "raw", ours -> "ours")) {
      val perm = new FsPermission(m.toShort)
      val d = new Path(dir.toUri.toString, s"$tag-d-$m")
      assert(fs.mkdirs(d, perm))
      val f = new Path(dir.toUri.toString, s"$tag-f-$m")
      fs.create(f, perm, false, 4096, 1.toShort, 1L << 20, null).close()
      fs.setPermission(f, perm)
    }
    for (m <- modes; kind <- Seq("d", "f")) {
      val r = mode(new Path(dir.toUri.toString, s"raw-$kind-$m"))
      val o = mode(new Path(dir.toUri.toString, s"ours-$kind-$m"))
      assert(r == o, f"$kind mode ${m}%o: raw ${r}%o, ours ${o}%o")
    }
    // give the walk back its rights before the temp dir is removed
    Files.walk(dir).iterator().asScala.foreach(p =>
      Files.setPosixFilePermissions(p, ForkFreeLocalFileSystem.posixBits(0x1ff)))
  }
}
