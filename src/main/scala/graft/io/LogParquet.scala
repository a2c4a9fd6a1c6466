package graft.io

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
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
  * Files open through the split-based `initialize`, whose requested
  * schema and `ParquetReadSupport` sit on one copy of the conf per column
  * set. The conf is only read after it is built, as Spark's broadcast
  * hadoop conf is by the tasks that share it. */
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

  private def context(columns: StructType): TaskAttemptContext =
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

  /** A vectorized reader over `columns` of `file`, ready for `initBatch`,
    * whose batches hold at most `capacity` rows (see [[capacityFor]]).
    * Every column must be in the file. */
  def openColumnar(file: String, columns: StructType,
      capacity: Int): VectorizedParquetRecordReader = {
    val path = new Path(file)
    val length = path.getFileSystem(conf).getFileStatus(path).getLen
    val reader = new VectorizedParquetRecordReader(false, capacity)
    var ok = false
    try {
      reader.initialize(new FileSplit(path, 0L, length, Array.empty[String]), context(columns))
      ok = true
    } finally if (!ok) reader.close()
    reader
  }

  /** The row count in `file`'s footer. */
  def rowCount(file: String): Long = {
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    try footer.getRecordCount finally footer.close()
  }
}
