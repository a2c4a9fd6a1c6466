package graft.io

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{PartitionReaderFactory, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{LogConfig, WalrusLog}
import graft.sources.{CommitIndexOffset, WalrusLogSource, WalrusLogTable, WalrusRealTimePartition, WalrusRealTimeReader}

/** Per-file cost of log-data Parquet IO: opening a file reuses one loaded
  * Hadoop conf, and a driver-side commit reuses its log's prepared
  * writer. A fresh `Configuration` parses `core-default.xml` on first use
  * (≈1.1 MB allocated), so the allocation of the calling thread over
  * many opens or commits tells a per-file parse from a shared conf. */
class LogParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("LogParquetSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Bytes the calling thread allocated while `body` ran. */
  private def allocatedBy(body: => Unit): Long = {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    body
    mx.getThreadAllocatedBytes(id) - before
  }

  /** What one fresh conf costs the thread that first reads it. */
  private def freshConfBytes(): Long =
    allocatedBy(new Configuration().get("fs.defaultFS"))

  /** Every data file under a log root. */
  private def dataFiles(root: String): Seq[Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
    finally walk.close()
  }

  /** Every row `factory` yields for the partitions of commits `[0, n)`,
    * read on the calling thread as a micro-batch task would read them. */
  private def drainMicroBatch(root: String, columns: StructType, n: Int): Long = {
    val opts = new CaseInsensitiveStringMap(Map("path" -> root, "topic" -> "t").asJava)
    val builder = new WalrusLogTable(opts).newScanBuilder(opts)
    builder.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(columns)
    val stream = builder.build().toMicroBatchStream(root + "/unused-ckpt")
      .asInstanceOf[MicroBatchStream]
    val factory: PartitionReaderFactory = stream.createReaderFactory()
    stream.planInputPartitions(CommitIndexOffset(0), CommitIndexOffset(n)).iterator.map { p =>
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        var rows = 0L
        try while (r.next()) rows += r.get().numRows() finally r.close()
        rows
      } else {
        val r = factory.createReader(p)
        var rows = 0L
        try while (r.next()) rows += 1 finally r.close()
        rows
      }
    }.sum
  }

  /** Every row the real-time tail reader yields from the log's start. */
  private def drainRealTime(root: String, columns: StructType): Long = {
    val nsDir = java.nio.file.Paths.get(root, "default").toString
    val r = new WalrusRealTimeReader(WalrusRealTimePartition(0, 1, nsDir, Some("t"),
      WalrusLogSource.PruneSpec(), 0L, 0L), columns)
    var rows = 0L
    try while (r.nextWithTimeout(System.currentTimeMillis() + 50L).hasRecord) rows += 1
    finally r.close()
    rows
  }

  test("opening log files reuses one loaded Hadoop conf") {
    val n = 50
    val root = graft.TestDirs.create("lparq-read-").toString
    val log = new WalrusLog(spark, root)
    (0 until n).foreach(i => log.append("t", bytes(s"e$i")))
    val all = WalrusLogSource.Schema
    val topicOnly = StructType(all.filter(_.name == "topic"))
    val valueOnly = StructType(all.filter(f => f.name == "value" || f.name == "topic"))
    // first pass loads classes and each column set's context
    assert(log.readNext("t", checkpoint = false).map(_.offset).contains(0L))
    Seq(all, topicOnly).foreach { s =>
      assert(drainMicroBatch(root, s, 1) == 1L)
      assert(drainRealTime(root, s) == n.toLong)
    }
    assert(drainRealTime(root, valueOnly) == n.toLong)

    val conf = freshConfBytes()
    // readNext: one columnar open per call, on the calling thread
    val reads = allocatedBy {
      (0 until n).foreach(i => assert(log.readNext("t").map(_.offset).contains(i.toLong)))
    }
    // a micro-batch over all n commits, columnar and footer-count readers
    val batch = allocatedBy {
      assert(drainMicroBatch(root, all, n) == n.toLong)
      assert(drainMicroBatch(root, topicOnly, n) == n.toLong)
    }
    // the real-time tail's columnar and footer-count branches
    val tail = allocatedBy {
      assert(drainRealTime(root, valueOnly) == n.toLong)
      assert(drainRealTime(root, topicOnly) == n.toLong)
    }
    val detail = s"one fresh conf = $conf B; $n readNext = $reads B, " +
      s"${2 * n}-file micro-batch = $batch B, ${2 * n}-file tail = $tail B"
    info(detail)
    assert(conf > 500000L, s"a fresh conf allocates less than expected: $detail")
    // what is left per file is the reader's own buffers and the footer,
    // less than one fresh conf; a per-file parse adds a whole one on top
    assert(reads < n * conf, detail)
    assert(batch < 2 * n * conf, detail)
    assert(tail < 2 * n * conf, detail)
  }

  test("driver-side commits do not copy the session conf") {
    val n = 50
    // uncompressed: a compressing codec allocates a page-sized buffer
    // (1 MiB) per file, which would hide the rest
    val log = new WalrusLog(spark, graft.TestDirs.create("lparq-write-").toString,
      cfg = LogConfig(compression = "uncompressed"))
    log.batchAppend("t", Seq(bytes("warm-0"), bytes("warm-1")))
    // a large session conf: a commit that copied it would allocate
    // several fresh confs' worth each time
    val pad = (0 until 10000).map(i => s"graft.test.pad.$i")
    pad.foreach(k => spark.conf.set(k, "x"))
    val conf = freshConfBytes()
    val commits =
      try allocatedBy {
        (0 until n).foreach(i => log.batchAppend("t", Seq(bytes(s"a$i"), bytes(s"b$i"))))
      } finally pad.foreach(spark.conf.unset)
    val detail = s"one fresh conf = $conf B; $n batchAppends = $commits B"
    info(detail)
    assert(log.batchRead("t", Long.MaxValue, checkpoint = false).size == 2 + 2 * n)
    assert(commits < n * conf, detail)
  }

  test("a commit's writer setup does not grow with the session conf it was built over") {
    val n = 50
    def newLog(prefix: String) = new WalrusLog(spark, graft.TestDirs.create(prefix).toString,
      cfg = LogConfig(compression = "uncompressed"))
    def commits(log: WalrusLog): Long = allocatedBy {
      (0 until n).foreach(i => log.batchAppend("t", Seq(bytes(s"a$i"), bytes(s"b$i"))))
    }
    // the plain log's writer is built before the session grows, the padded
    // log's after: each file's writer setup reads the conf it was built over
    val plain = newLog("lparq-plain-")
    plain.batchAppend("t", Seq(bytes("warm-0"), bytes("warm-1")))
    val pad = (0 until 10000).map(i => s"graft.test.pad.$i")
    pad.foreach(k => spark.conf.set(k, "x"))
    val (plainBytes, paddedBytes) =
      try {
        val padded = newLog("lparq-padded-")
        padded.batchAppend("t", Seq(bytes("warm-0"), bytes("warm-1")))
        commits(plain); commits(padded)
        (commits(plain), commits(padded))
      } finally pad.foreach(spark.conf.unset)
    val detail = s"$n batchAppends: plain log $plainBytes B, padded log $paddedBytes B"
    info(detail)
    assert(paddedBytes <= plainBytes * 5 / 4, detail)
  }

  test("each log writes its own codec when two logs share a session") {
    val codecs = Seq("zstd", "gzip")
    val logs = codecs.map(c => new WalrusLog(spark, graft.TestDirs.create(s"lparq-$c-").toString,
      cfg = LogConfig(compression = c)))
    (0 until 20).foreach { i =>
      logs.foreach(_.append("t", bytes(s"e$i")))
      logs.foreach(_.batchAppend("u", Seq(bytes(s"b$i"), bytes(s"c$i"))))
    }
    logs.zip(codecs).foreach { case (log, codec) =>
      val files = dataFiles(log.root)
      assert(files.size == 40, s"${log.root}: ${files.size} files")
      files.foreach { f =>
        val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), new Configuration()))
        val seen = try footer.getRowGroups.asScala.flatMap(_.getColumns.asScala)
          .map(_.getCodec.name.toLowerCase).toSet finally footer.close()
        assert(seen == Set(codec), s"$f")
      }
      assert(log.batchRead("t", Long.MaxValue, checkpoint = false).size == 20)
      assert(log.batchRead("u", Long.MaxValue, checkpoint = false).size == 40)
    }
  }
}
