package graft.io

import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Paths, StandardOpenOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{DelegatingSeekableInputStream, SeekableInputStream}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Opens log data files over one Hadoop conf per JVM.
  *
  * Spark's `VectorizedParquetRecordReader.initialize(String, List)` builds
  * a fresh `Configuration` for every file, and the first lookup in a fresh
  * conf parses `core-default.xml`: about 1.1 MB of allocation and most of
  * the CPU of opening a small file. Here that same conf, `new
  * Configuration()` plus the five booleans the method sets, is loaded
  * once, so reads behave as before and no session's hadoop conf leaks in.
  * It is a `JobConf`, which `TaskAttemptContextImpl` takes without a copy.
  * Files open through the split-based `initialize` handed the file's one
  * stream and its footer (see [[openFile]]); its requested schema and
  * `ParquetReadSupport` sit on one copy of the conf per column set. The
  * conf is only read after it is built, as Spark's broadcast hadoop conf
  * is by the tasks that share it. */
object LogParquet {

  private val conf: JobConf = {
    val c = new JobConf(new Configuration())
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => c.setBoolean(e.key, false))
    c
  }

  /** One task context per requested column set (at most one per subset of
    * the file columns). */
  private val contexts = TrieMap.empty[StructType, TaskAttemptContext]

  private[io] def context(columns: StructType): TaskAttemptContext =
    contexts.getOrElseUpdate(columns, {
      val c = new JobConf(conf)
      c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
      c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, columns.json)
      new TaskAttemptContextImpl(c, new TaskAttemptID())
    })

  /** Spark's own vectorized batch size (`spark.sql.parquet.columnarReaderBatchSize`
    * default): the most rows a log file's column vectors are sized for. */
  val MaxBatchRows: Int = 4096

  /** The batch capacity for a file of at most `rows` rows: column vectors
    * are allocated for `capacity` rows when the batch is initialised, so a
    * one-row file gets one-row vectors instead of 4096-row ones. */
  def capacityFor(rows: Long): Int = math.max(1L, math.min(MaxBatchRows.toLong, rows)).toInt

  /** The batch capacity for a file of `topic` in commit `c`: its range
    * holds the exact row count (a full batch when `c` records no range). */
  def capacityFor(c: graft.log.CommitRecord, topic: String): Int =
    capacityFor(c.topics.get(topic).fold(MaxBatchRows.toLong)(_.rows))

  /** Footer read options: path-independent, built once. */
  private val footerOptions = HadoopReadOptions.builder(conf).build()

  /** A parquet stream straight over a file channel: no checksum layer,
    * and heap-buffer reads land in the caller's array. */
  private final class ChannelStream(ch: FileChannel)
      extends DelegatingSeekableInputStream(Channels.newInputStream(ch)) {
    override def getPos: Long = ch.position()
    override def seek(pos: Long): Unit = ch.position(pos)
  }

  /** `file` opened for its footer: one open and one stat of the open
    * file (its length), with no checksum layer (no writer of log files
    * makes `.crc` sidecars, so Hadoop's checksummed open would stat for
    * one and verify nothing), and the footer read over that stream. A
    * missing file fails with `NoSuchFileException`. The caller owns the
    * stream. */
  private def openFile(file: String): (HadoopInputFile, SeekableInputStream, ParquetMetadata) = {
    val ch = FileChannel.open(Paths.get(file), StandardOpenOption.READ)
    try {
      val length = ch.size()
      val input = HadoopInputFile.fromStatus(
        new FileStatus(length, false, 1, length, 0L, new Path(file)), conf)
      val stream = new ChannelStream(ch)
      (input, stream, ParquetFileReader.readFooter(input, footerOptions, stream))
    } catch { case e: Throwable => ch.close(); throw e }
  }

  /** A vectorized reader over `columns` of `file`, ready for `initBatch`,
    * whose batches hold at most `capacity` rows (see [[capacityFor]]).
    * Every column must be in the file. Reads through [[openFile]]'s one
    * stream and footer. */
  def openColumnar(file: String, columns: StructType,
      capacity: Int): VectorizedParquetRecordReader = {
    val (input, stream, footer) = openFile(file)
    val reader = new VectorizedParquetRecordReader(false, capacity)
    var ok = false
    try {
      // the reader's ParquetFileReader takes over the stream
      reader.initialize(new FileSplit(input.getPath, 0L, input.getLength, Array.empty[String]),
        context(columns), Some(input), Some(stream), Some(footer))
      ok = true
    } finally if (!ok) { reader.close(); stream.close() }
    reader
  }

  /** The row count in `file`'s footer. */
  def rowCount(file: String): Long = {
    val (_, stream, footer) = openFile(file)
    try footer.getBlocks.asScala.iterator.map(_.getRowCount).sum finally stream.close()
  }
}
