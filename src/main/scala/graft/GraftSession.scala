package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main in this project builds — the
  * bench, the oracle dump and every tool share one configuration, so a
  * timing, a plan or a correctness result taken with one main holds for
  * the others.
  *
  * Cores come from `SPARK_GRAFT_CPUS` (a positive integer or `*`; 32, the
  * bench's contract point, when unset), validated before Spark starts.
  *
  * Local file IO starts no child process: `file:` paths use
  * [[graft.io.ForkFreeLocalFileSystem]] and stream checkpoints
  * [[graft.io.LocalCheckpointFileManager]]. The log and `WalrusStreams`
  * get the same without this factory; here it also covers every other
  * Spark write and checkpoint of the session. */
private[graft] object GraftSession {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** The `local[...]` core spec for a `SPARK_GRAFT_CPUS` value. */
  def parseCpus(raw: Option[String]): String = raw match {
    case None => "32"
    case Some("*") => "*"
    case Some(s) if s.forall(c => c >= '0' && c <= '9') && s.toIntOption.exists(_ > 0) => s
    case Some(s) => throw new IllegalArgumentException(
      s"$CpusVar must be a positive integer or '*', got '$s'")
  }

  def local(): SparkSession = {
    val cpus = parseCpus(sys.env.get(CpusVar))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS): this flag must be set
      // at session BUILD time — a runtime conf.set is ignored by parquet
      // schema inference in Spark 4.1 (verified empirically), so relying
      // on SparkEntry.events()'s lazy set silently breaks every ts-
      // arithmetic query when the session builder omits it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local-FS parity with the reference's raw-byte file IO: skip
      // Hadoop's .crc sidecar files + CRC32 of every byte (entry
      // integrity is the per-row FNV column + parquet footer checks),
      // and set permissions in-process rather than by spawning `chmod`
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      // stream checkpoints on `file:` paths: temp file + rename(2) over
      // the fork-free FS instead of FileContext (which spawns readlink and
      // chmod per checkpoint file); other schemes keep Spark's default
      .config(graft.io.LocalCheckpointFileManager.ConfKey,
        classOf[graft.io.LocalCheckpointFileManager].getName)
      // always use the serialized sort shuffle writer: the bypass writer
      // creates a file per (map task × reduce partition) — quadratic file
      // ops that dominate small-stage latency locally, and it never
      // applies at cluster scale (> 200 reduce partitions) anyway
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // shuffle files are transient scratch — put them on tmpfs so the
      // timed window doesn't pay disk for them twice (write + read back).
      // The reference's no-fsync write bench similarly never waits on
      // durable storage; our DATA files still land on the real filesystem
      // via the commit protocol. On a cluster this is "shuffle on local
      // NVMe", the standard deployment.
      .config("spark.local.dir", "/dev/shm/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a `*` spec counts as the parallelism it resolved to
    val cores = cpus.toIntOption.getOrElse(spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    spark
  }
}
