package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.WalrusLog

/** Read planning packs each topic's files into multi-file partitions:
  * fewer tasks per micro-batch, the same rows, per-topic offset order and
  * `_commit` values as reading one file per partition. */
class WalrusPackingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusPackingSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Topics = Seq("a", "b", "c")
  private val Commits = 30

  /** A log of `Commits` small commits: commit i appends to topic i mod 3,
    * and every fifth commit also appends to a second topic. */
  private lazy val root: String = {
    val r = graft.TestDirs.create("wpack-").toString
    val log = new WalrusLog(spark, r)
    (0 until Commits).foreach { i =>
      val t = Topics(i % Topics.size)
      if (i % 5 == 0)
        log.appendDF(spark.createDataFrame(Seq(
          (t, s"$t-$i-x".getBytes("UTF-8")), (t, s"$t-$i-y".getBytes("UTF-8")),
          (Topics((i + 1) % Topics.size), s"u-$i".getBytes("UTF-8")))).toDF("topic", "value"))
      else log.batchAppend(t, (0 to i % 3).map(j => s"$t-$i-$j".getBytes("UTF-8")))
    }
    r
  }

  private val withCommit = StructType(WalrusLogSource.Schema.fields :+ StructField("_commit", LongType))
  private val topicOnly = StructType(Seq(StructField("topic", org.apache.spark.sql.types.StringType),
    StructField("_commit", LongType)))

  /** The stream's plan of commits `[0, Commits)` and its reader factory. */
  private def plan(columns: StructType): (Array[WalrusFilePartition], PartitionReaderFactory) = {
    val opts = new CaseInsensitiveStringMap(Map("path" -> root).asJava)
    val builder = new WalrusLogTable(opts).newScanBuilder(opts)
    builder.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(columns)
    val stream = builder.build().toMicroBatchStream(root + "/unused-ckpt")
      .asInstanceOf[MicroBatchStream]
    val parts = stream.planInputPartitions(CommitIndexOffset(0), CommitIndexOffset(Commits))
      .map(_.asInstanceOf[WalrusFilePartition])
    (parts, stream.createReaderFactory())
  }

  /** Rows of one partition as (topic, offset, value, _commit); offset and
    * value are absent (-1, "") under the topic-only projection. */
  private def read(factory: PartitionReaderFactory, p: InputPartition,
      columns: StructType): Seq[(String, Long, String, Long)] = {
    val commitAt = columns.fieldIndex("_commit")
    val topicAt = columns.fieldIndex("topic")
    def tuple(r: InternalRow): (String, Long, String, Long) =
      if (columns.size == 2) (r.getUTF8String(topicAt).toString, -1L, "", r.getLong(commitAt))
      else (r.getUTF8String(topicAt).toString, r.getLong(0),
        new String(r.getBinary(2), "UTF-8"), r.getLong(commitAt))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String, Long)]
    if (factory.supportColumnarReads(p)) {
      val r = factory.createColumnarReader(p)
      try while (r.next()) r.get().rowIterator().asScala.foreach(row => out += tuple(row))
      finally r.close()
    } else {
      val r = factory.createReader(p)
      try while (r.next()) out += tuple(r.get()) finally r.close()
    }
    out.toSeq
  }

  /** The packed read must equal a one-file-per-partition read of the
    * same files: per topic, the same rows in the same order. */
  private def assertSameRows(columns: StructType): Array[WalrusFilePartition] = {
    val (parts, factory) = plan(columns)
    assert(parts.forall(p => p.files.nonEmpty &&
      p.files.forall(_.path.contains(s"/topic=${p.topic}/"))), "a partition holds one topic")
    val packed = parts.toSeq.flatMap(read(factory, _, columns))
    val single = parts.toSeq.flatMap(p => p.files.map(f => WalrusFilePartition(p.topic, Seq(f))))
      .flatMap(read(factory, _, columns))
    assert(packed.groupBy(_._1) == single.groupBy(_._1))
    assert(packed.size == single.size && packed.nonEmpty)
    if (columns.size > 2) Topics.foreach { t =>
      val offsets = packed.filter(_._1 == t).map(_._2)
      assert(offsets == offsets.indices.map(_.toLong), s"topic $t offsets $offsets")
    }
    parts
  }

  test("a micro-batch of small commits plans at most max(topics, parallelism) partitions") {
    val slots = spark.sparkContext.defaultParallelism
    Seq(withCommit, topicOnly).foreach { columns =>
      val parts = assertSameRows(columns)
      val files = parts.map(_.files.size).sum
      assert(files > math.max(Topics.size, slots), s"only $files files")
      assert(parts.length <= math.max(Topics.size, slots),
        s"${parts.length} partitions for $files files on ${Topics.size} topics")
    }
  }

  test("packed partitions respect a small spark.sql.files.maxPartitionBytes") {
    val open = 16L
    val bytes = WalrusLogSource.listCommits(java.nio.file.Paths.get(root, "default"))
      .map { case (c, _) => c.id -> c.topics }.toMap
    // about three of the smallest files' worth per partition
    val max = 3 * bytes.valuesIterator.flatMap(_.valuesIterator.map(_.bytes)).min + 2 * open
    spark.conf.set("spark.sql.files.maxPartitionBytes", max.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", open.toString)
    try Seq(withCommit, topicOnly).foreach { columns =>
      val parts = assertSameRows(columns)
      assert(parts.exists(_.files.size > 1), "nothing was packed")
      parts.foreach { p =>
        val size = p.files.map(f => bytes(f.commitId)(p.topic).bytes).sum + open * (p.files.size - 1)
        assert(p.files.size == 1 || size <= max, s"$p holds $size of $max bytes")
      }
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("a batch scan reads the packed partitions: same rows and _commit values as toDF") {
    val df = spark.read.format("walruslog").option("path", root).load()
      .selectExpr("topic", "offset", "CAST(value AS STRING) v", "_commit")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val want = new WalrusLog(spark, root).toDF()
      .selectExpr("topic", "offset", "CAST(value AS STRING) v", "CAST(batch AS LONG)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == want)
    assert(df.rdd.getNumPartitions <= math.max(Topics.size, spark.sparkContext.defaultParallelism))
  }
}
