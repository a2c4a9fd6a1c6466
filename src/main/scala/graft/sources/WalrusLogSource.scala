package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, PartitionOffset, ReadLimit, SupportsAdmissionControl, SupportsRealTimeMode, SupportsRealTimeRead, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.JsonMethods

import graft.log.{CommitRecord, TopicRange}

/** DataSource V2 `walruslog` source: batch scan + Structured Streaming
  * micro-batch source over a WalrusLog namespace.
  *
  * The streaming offset is the position in the ordered commit log — the
  * Spark-native analogue of the reference's consumer cursor hydration and
  * sealed-chain walk (reference: src/wal/runtime/walrus_read.rs:24-345):
  * each micro-batch is a contiguous range of committed atomic batches, so
  * exactly-once replay falls out of checkpointed (start, end] commit ranges.
  *
  * Scans are **columnar**: each partition (data files packed by Spark's
  * file-split rule, of one topic only when the scan reports key-grouped
  * partitioning) is read file by file with Spark's vectorized parquet
  * reader — the file layout is pure int64/binary (ts stored as
  * epoch-micros long precisely so the custom reader never meets INT96),
  * and `topic` is appended as a per-file constant partition column.
  * Column pruning is pushed into the reader, so a streaming aggregate
  * over one column reads only that column's pages.
  * The raw schema mirrors the file layout (`ts_us`, topic last);
  * [[graft.streaming.WalrusStreams]] projects the friendly shape.
  *
  * Options: `path` (log root), `namespace` (default `default`), `topic`
  * (optional filter — pruned at file listing, files of other topics are
  * never opened), `maxBatchesPerTrigger` (admission control, the analogue
  * of the reference's byte-budget read admission,
  * walrus_read.rs:675-781).
  */
class WalrusLogSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "walruslog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WalrusLogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WalrusLogTable(new CaseInsensitiveStringMap(properties))

  /** `df.writeStream.format("walruslog")` — the write-side twin of the
    * micro-batch source. The table deliberately does NOT claim
    * STREAMING_WRITE: a DataWriter-per-task V2 write would have to spool
    * rows before the driver can assign dense per-topic offsets (offsets
    * are baked into the data files), so Spark's documented fallback — the
    * planner calls `createV1Sink` when the V2 table lacks the capability —
    * routes the whole micro-batch DataFrame to [[WalrusLogSink]], which is
    * the existing epoch-tagged [[graft.log.WalrusLog.appendDF]] commit
    * with zero extra materialization. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "walruslog sink partitions by topic internally; partitionBy() is not supported")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"walruslog sink is append-only (a published log entry is immutable, " +
        s"so Update/Complete re-emissions would duplicate rows); got $outputMode")
    new WalrusLogSink(sqlContext.sparkSession, parameters)
  }

  /** `df.write.format("walruslog").save()` — the batch twin of the
    * streaming sink, via the same documented V1 fallback (the V2 table
    * claims no BATCH_WRITE for the same reason it claims no
    * STREAMING_WRITE: offsets are baked into data files, so a
    * DataWriter-per-task path would spool rows before the driver can
    * assign them; `DataFrameWriter.save` then routes here). The whole
    * DataFrame becomes ONE atomically visible commit through
    * [[graft.log.WalrusLog.appendDF]].
    *
    * Rows need `topic` + `value` columns, or a `value` column plus
    * `.option("topic", t)`; `.option("seqCol", c)` makes per-topic order
    * follow column `c` globally (otherwise input order is used).
    * SaveModes follow log semantics: `Append` always appends;
    * `ErrorIfExists` (the `save()` default) refuses a namespace — or,
    * with a topic option, a topic — that already holds entries; `Ignore`
    * is a no-op in that case; `Overwrite` is rejected outright (published
    * entries are immutable — retention/vacuum are the deletion surface,
    * reference: walrus.rs batch-file immutability). */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    def opt(key: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
    val root = opt("path")
      .map(p => if (p.startsWith("file:")) Paths.get(java.net.URI.create(p)).toString else p)
      .getOrElse(throw new IllegalArgumentException(
        "walruslog batch write requires option 'path'"))
    val namespace = opt("namespace").getOrElse("default")
    val topicOpt = opt("topic")
    val log = new graft.log.WalrusLog(sqlContext.sparkSession, root, namespace)

    val exists = topicOpt match {
      case Some(t) => log.entryCount(t) > 0
      case None => log.entryCounts.valuesIterator.exists(_ > 0)
    }
    val target = topicOpt.map(t => s"topic '$t'").getOrElse(s"namespace '$namespace'")
    val write = mode match {
      case SaveMode.Append => true
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"walruslog $target at $root already holds entries " +
            "(SaveMode.ErrorIfExists); use mode(\"append\")")
        true
      case SaveMode.Ignore => !exists
      case SaveMode.Overwrite => throw new UnsupportedOperationException(
        "walruslog is append-only: published entries are immutable, so " +
          "SaveMode.Overwrite is not supported — expire data via retention " +
          "(vacuum/retainBytes) and append")
    }
    if (write) {
      val withTopic = topicOpt match {
        case Some(t) if !data.columns.contains("topic") =>
          data.withColumn("topic", org.apache.spark.sql.functions.lit(t))
        case _ => data
      }
      require(withTopic.columns.contains("topic") && withTopic.columns.contains("value"),
        s"walruslog batch write needs 'topic' and 'value' columns (or " +
          s"option 'topic'); got [${data.columns.mkString(", ")}]")
      // `tag` = caller-supplied idempotence key: a re-run of the same
      // batch job (orchestrator retry, backfill re-submission) with the
      // same tag is a NO-OP instead of a duplicate commit — the batch
      // spelling of the streaming sink's epoch tags (manual tags are
      // kept verbatim across manifest truncation; see
      // WalrusLog.recordDroppedTag).
      val tag = opt("tag")
      // appendDF projects (topic, value, seq) itself, so the seq column —
      // when named — must survive into the input it sees
      opt("seqCol").map(org.apache.spark.sql.functions.col) match {
        case some @ Some(_) => log.appendDF(withTopic, seqCol = some, tag = tag)
        case None => log.appendDF(withTopic.select(
          org.apache.spark.sql.functions.col("topic"),
          org.apache.spark.sql.functions.col("value")), tag = tag)
      }
      ()
    }
    val outerCtx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = outerCtx
      override def schema: StructType = WalrusLogSource.Schema
    }
  }
}

/** Streaming sink: each micro-batch becomes ONE atomic log commit tagged
  * `v1sink-<checkpoint-id>-<batchId>`, so a replayed epoch (restart after
  * a commit but before the checkpoint write landed) finds its tag already
  * committed and is a no-op — exactly-once end to end, the same tag
  * idempotence contract as [[graft.streaming.WalrusStreams.sink]]
  * (reference: fsync-then-publish atomicity, src/wal/runtime/
  * writer.rs:135-341). Rows need `topic` + `value` columns, or a single
  * `value` column plus `.option("topic", t)`. */
class WalrusLogSink(spark: org.apache.spark.sql.SparkSession,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.spark.sql.functions.{col, lit}

  private def opt(key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
  private val root = opt("path")
    .map(p => if (p.startsWith("file:")) Paths.get(java.net.URI.create(p)).toString else p)
    .getOrElse(throw new IllegalArgumentException("walruslog sink requires option 'path'"))
  private val namespace = opt("namespace").getOrElse("default")
  private val topicOpt = opt("topic")

  /** Epoch tags must be stable across restarts of the SAME query (so a
    * replayed batchId is dropped) and distinct between different queries
    * appending to one namespace — the resolved checkpoint location is
    * exactly that identity. Spark resolves it from the writer option OR
    * from `spark.sql.streaming.checkpointLocation` + the query name, so
    * the tag base must cover BOTH routes: a conf-based checkpoint restarts
    * into the same directory and can replay its last epoch just like an
    * explicit one. Only a genuinely checkpoint-less run (no option, and no
    * conf or no queryName — where Spark itself mints a fresh random
    * checkpoint dir per start) gets a random base: replay across restarts
    * is impossible there by construction. */
  private val tagBase = opt("checkpointLocation")
    .orElse {
      for {
        confLoc <- Option(spark.conf.get("spark.sql.streaming.checkpointLocation", null))
          .filter(_.nonEmpty)
        name <- opt("queryName")
      } yield s"$confLoc/$name"
    }
    .map(WalrusLogSink.checkpointTag)
    .getOrElse(java.util.UUID.randomUUID().toString.take(8))

  private lazy val log = new graft.log.WalrusLog(spark, root, namespace)

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    // ForeachBatchSink-style pin: building new operators directly on the
    // incremental Dataset would re-analyze its streaming sources (and
    // re-trigger the batch); wrap the executed Tungsten rows instead.
    val pinned = org.apache.spark.sql.graft.GraftSqlInternal.internalCreateDataFrame(
      data.sparkSession, data.queryExecution.toRdd, data.schema)
    val withTopic = topicOpt match {
      case Some(t) if !pinned.columns.contains("topic") =>
        pinned.withColumn("topic", lit(t))
      case _ => pinned
    }
    require(withTopic.columns.contains("topic") && withTopic.columns.contains("value"),
      s"walruslog sink needs 'topic' and 'value' columns (or option 'topic'); " +
        s"got [${pinned.columns.mkString(", ")}]")
    log.appendDF(withTopic.select(col("topic"), col("value")),
      tag = Some(s"v1sink-$tagBase-$batchId"))
    ()
  }

  override def toString: String = s"WalrusLogSink($root/$namespace)"
}

object WalrusLogSink {
  /** A sink query's identity in its epoch tags: a hash of its checkpoint
    * location, stable across restarts of one query and distinct between
    * queries appending to one namespace. */
  private[graft] def checkpointTag(checkpointLocation: String): String =
    java.lang.Long.toHexString(graft.functions.Fnv1a64.hash(checkpointLocation.getBytes("UTF-8")))
}

object WalrusLogSource {
  /** Raw entry schema, in file-column order with the `topic` partition
    * constant appended last (matching vectorized-batch layout). */
  val Schema: StructType = StructType(Seq(
    StructField("offset", LongType),
    StructField("ts_us", LongType),
    StructField("value", BinaryType),
    StructField("checksum", LongType),
    StructField("topic", StringType)))

  private[sources] implicit val formats: Formats = DefaultFormats

  /** The namespace's per-entry decoded-width overhead, from the
    * `config.json` WalrusLog persists on open — so width estimates
    * (estimateStatistics) and byte pacing (maxBytesPerTrigger admission)
    * match the cfg the log was actually written under instead of the
    * compile-time default (ADVICE r10). Callers resolve once per
    * scan/stream lifetime (lazy val), so this is one tiny file read per
    * reader, never per trigger. Pre-file namespaces fall back to the
    * default. */
  private[sources] def metaOverheadBytes(nsDir: Path): Long = {
    val p = nsDir.resolve("config.json")
    val fallback = graft.log.LogConfig().metaOverheadBytes.toLong
    if (!Files.exists(p)) fallback
    else try {
      (JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
        \ "metaOverheadBytes").extractOpt[Long].getOrElse(fallback)
    } catch { case _: Exception => fallback }
  }

  /** Commit-JSON parse counter — a test probe pinning the O(1)-parse-per-
    * new-commit contract of the cached stream/scan paths (each commit file
    * is parsed once per reader lifetime, not once per trigger). */
  private[graft] val commitParseCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Commit-log listing shared by batch + streaming paths. Reads straight
    * from disk so a source in one process observes commits published by
    * another (cross-process tail). Cold-start cost is O(tail): the newest
    * rolled-up manifest (see [[graft.log.LogConfig.manifestEveryCommits]])
    * stands in for the prefix; only commit JSONs past its `asOf` are
    * parsed. Batches superseded by a compaction commit (`replaces`) are
    * flagged consumed-equivalent so statistics never double-count them. */
  /** Commit-log listing counter — a test probe pinning the one-listing-
    * per-scan contract: the scan builder and the scan it builds share ONE
    * snapshot (VERDICT r9). */
  private[graft] val commitListCount = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def listCommits(nsDir: Path): Vector[(CommitRecord, Boolean)] = {
    commitListCount.incrementAndGet()
    markReplaced(assembleCommits(nsDir))
  }

  /** Newest-manifest prefix + parsed JSON tail, in commit-file order —
    * exactly one element per file in `commits/`, so cached readers can
    * append `names.drop(cached.size)` on refresh and stream checkpoints
    * (commit INDEX offsets) stay stable. A manifest holds only the LIVE
    * covered commits (fully-reclaimed ones are truncated away, the Raft
    * snapshot semantics — see WalrusLog.writeManifest); the positional
    * contract is kept by synthesizing a tombstone per covered commit file
    * whose id the manifest no longer carries — names-only work, no parse:
    * a reclaimed commit has no data directory, so an empty vacuumed-flagged
    * record is exactly what parsing its rewritten JSON would plan as. */
  /** Assembled covered-prefix cache, process-wide (VERDICT r10 #7): at
    * 10⁵ commits, building the prefix vector (id extraction + per-file
    * manifest lookups) is the residual ~0.5 s of a cold plan AFTER the
    * parsed-manifest cache. The prefix is a pure function of (manifest
    * content, covered file names): keyed by the manifest's 128-bit
    * content key (from the parse cache) plus a SHA-256 digest of the
    * covered names in listing order, it can only serve stale state via a
    * deliberate SHA-256 collision. A new manifest, a vacuum's manifest
    * rewrite, or any change to the covered listing changes the key and
    * misses; covered flags come from the MANIFEST (not the rewritable
    * commit JSONs), so equal inputs give equal prefixes by construction.
    * One entry per namespace; cleared wholesale on overflow. */
  private val prefixCache = new java.util.concurrent.ConcurrentHashMap[
    String, (((String, Long, Long, Long), Int, (Long, Long)),
      Vector[(CommitRecord, Boolean)])]

  private def namesDigest(names: Seq[Path]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    names.foreach { p =>
      md.update(p.getFileName.toString.getBytes("UTF-8")); md.update(0.toByte)
    }
    val bb = java.nio.ByteBuffer.wrap(md.digest())
    (bb.getLong(0), bb.getLong(8))
  }

  /** Whole-assembly cache on top of the listing + prefix caches: the
    * assembled vector is a pure function of (the exact names listing,
    * the manifest content, the tail commit JSONs). The key is the names
    * Seq by REFERENCE — only the mtime-guarded listing cache can serve
    * the same instance twice, and any commits-dir mutation (new commit,
    * vacuum's tail rewrite) invalidates that instance — plus the
    * manifest's 128-bit content key, so a manifest rewrite misses even
    * at an unchanged listing. A hit skips the tail parses too, which is
    * sound for the same reason the listing hit is: rewriting a tail
    * file bumps the dir mtime. */
  private val assembledCache = new java.util.concurrent.ConcurrentHashMap[
    String, (AnyRef, Any, Vector[(CommitRecord, Boolean)])]

  private[graft] def assembleCommits(nsDir: Path): Vector[(CommitRecord, Boolean)] = {
    val names = commitFiles(nsDir)
    val keyed = graft.log.WalrusLog.readNewestManifestKeyed(nsDir)
    val mkey: Any = keyed.map(_._2)
    val hit = assembledCache.get(nsDir.toString)
    if (hit != null && (hit._1 eq names) && hit._2 == mkey) return hit._3
    val out = keyed match {
      case Some((m, mk)) =>
        val (coveredFiles, tailFiles) = names.partition(p =>
          graft.log.WalrusLog.commitIdOf(p).exists(_ <= m.asOf))
        val ck = (mk, coveredFiles.size, namesDigest(coveredFiles))
        val cached = prefixCache.get(nsDir.toString)
        val prefix =
          if (cached != null && cached._1 == ck) cached._2
          else {
            val byId = m.entries.iterator.map(e => e.id -> e).toMap
            val p = coveredFiles.flatMap(graft.log.WalrusLog.commitIdOf).map { id =>
              byId.get(id) match {
                case Some(e) => (e.record, e.vacuumed)
                case None => (CommitRecord(id, 0L, Map.empty), true) // reclaimed
              }
            }.toVector
            if (prefixCache.size >= 64) prefixCache.clear()
            prefixCache.put(nsDir.toString, (ck, p))
            p
          }
        prefix ++ tailFiles.map(parseCommit)
      case None => names.map(parseCommit).toVector
    }
    if (assembledCache.size >= 64) assembledCache.clear()
    assembledCache.put(nsDir.toString, (names, mkey, out))
    out
  }

  /** Flag commits superseded by a compaction commit (their data dirs are
    * deleted; the compaction batch carries the same rows) — keeps
    * [[WalrusLogScan.estimateStatistics]] exact after `compact()` and
    * saves readers the empty-dir listings. */
  private[sources] def markReplaced(
      entries: Vector[(CommitRecord, Boolean)]): Vector[(CommitRecord, Boolean)] = {
    val replaced = entries.iterator.flatMap(_._1.replaces).flatten.toSet
    if (replaced.isEmpty) entries
    else entries.map { case e @ (c, flagged) =>
      if (!flagged && replaced(c.id)) (c, true) else e
    }
  }

  /** Index of the commit with `id` in an assembled commit vector (which is
    * in filename order = ascending id), or -1 — binary search, O(log n). */
  private[graft] def commitIndexOfId(
      all: Vector[(CommitRecord, Boolean)], id: Long): Int = {
    var lo = 0; var hi = all.size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = all(mid)._1.id
      if (v == id) return mid
      else if (v < id) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Sorted-listing cache under the "racily clean" mtime discipline (the
    * git-index trick): the sorted names of a `commits/` dir are reused
    * while the dir's mtime is UNCHANGED, and a listing is cached only
    * when (a) its mtime was at least [[MtimeEpsilonMs]] old at cache
    * time and (b) a re-stat after the listing still shows that mtime —
    * so a create racing the listing inside the same clock tick can never
    * be masked (that listing is simply not cached; the next call
    * re-lists). Every later mutation — commit publish (create), vacuum's
    * atomic JSON rewrite (rename-into-dir), compaction's new commit —
    * bumps the POSIX dir mtime and misses. Active namespaces (mtime
    * fresher than the epsilon, i.e. exactly when new data is landing)
    * always pay the real listing; staleness is only risked where nothing
    * has changed for a second. At 10⁵ commits the listing+sort is
    * ~250 ms of every warm plan (BASELINE.md) — this takes it to one
    * stat. */
  private val listingCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, Seq[Path])]
  private val MtimeEpsilonMs = 1000L

  /** Real `commits/` directory listings (the listing cache's misses) — a
    * test probe pinning the listing contract of [[CommitTail]]: a cold
    * load and a fallback listing each make at most one. */
  private[graft] val commitDirListCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Sorted commit-JSON paths (names only; no parsing). Commit files are
    * named `%012d.json`, so name order is id order; each name is taken
    * once and the sort compares those strings. */
  private[graft] def commitFiles(nsDir: Path): Seq[Path] = {
    val dir = nsDir.resolve("commits")
    if (!Files.exists(dir)) return Seq.empty
    val mtime = mtimeOf(dir)
    if (mtime != null) {
      val hit = listingCache.get(dir.toString)
      if (hit != null && hit._1 == mtime) return hit._2
    }
    commitDirListCount.incrementAndGet()
    val s = Files.list(dir)
    val names = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).toArray
      finally s.close()
    java.util.Arrays.sort(names, java.util.Comparator.naturalOrder[String]())
    val sorted: Seq[Path] = names.iterator.map(dir.resolve).toVector
    if (mtime != null &&
        System.currentTimeMillis() - mtime.toMillis >= MtimeEpsilonMs) {
      if (mtimeOf(dir) == mtime) {
        if (listingCache.size >= 64) listingCache.clear()
        listingCache.put(dir.toString, (mtime, sorted))
      }
    }
    sorted
  }

  /** The commit files past the first `known` of a `commits/` listing,
    * up to the first one a racy listing may have misplaced (see
    * [[publishedPrefix]]). `afterId` is the newest known commit id. */
  private[graft] def newCommitFiles(nsDir: Path, known: Int, afterId: Long): Seq[Path] = {
    val dir = nsDir.resolve("commits")
    publishedPrefix(commitFiles(nsDir).drop(known), afterId,
      id => Files.exists(dir.resolve(f"$id%012d.json")))
  }

  /** The leading `names` (new commit files past commit `afterId`, in id
    * order) that no missing published commit precedes. Directory order is
    * not creation order, so a listing taken while commits land can miss
    * one created during it yet return a later one; appended by position,
    * the later commit would take the earlier one's slot (one commit never
    * delivered, the next delivered twice). The names from the first
    * missing id whose file `exists` on are dropped; the next listing
    * returns them. Ids that never published (a claim abandoned
    * mid-commit) have no file and stay gaps. */
  private[graft] def publishedPrefix(names: Seq[Path], afterId: Long,
      exists: Long => Boolean): Seq[Path] = {
    var prev = afterId
    names.takeWhile { n =>
      graft.log.WalrusLog.commitIdOf(n).forall { id =>
        val whole = (prev + 1 until id).forall(gap => !exists(gap))
        prev = id
        whole
      }
    }
  }

  private[graft] def parseCommit(p: Path): (CommitRecord, Boolean) = {
    val c = graft.log.CommitCodec.readCommit(p)
    commitParseCount.incrementAndGet()
    c
  }

  private def mtimeOf(dir: Path): java.nio.file.attribute.FileTime =
    try Files.getLastModifiedTime(dir)
    catch { case _: java.io.IOException => null }

  /** The commit log one reader has loaded, grown as commits publish, with
    * one element per commit file in id order, so stream offsets stay
    * positions in it. The cold load lists `commits/` once (`cold`);
    * a refresh then probes `commits/<lastId+1>.json` onward and costs
    * what it finds, as a walrus reader looks only past its cursor.
    *
    * Ids can skip: a claim abandoned mid-commit leaves an id with no
    * commit file, and a later open sweeps its batch dir. A commit past
    * such a gap is found by one fallback listing ([[newCommitFiles]]),
    * made only when the probe finds nothing and the `commits/` mtime moved
    * since the last listing. As in [[commitFiles]], a listing is trusted
    * only if the mtime it was taken at was [[MtimeEpsilonMs]] old: a
    * commit created in the same clock tick could hide behind a younger
    * one, so the first empty probe after that mtime ages lists once more.
    * Not thread-safe; callers serialize. */
  private[graft] final class CommitTail(nsDir: Path,
      cold: Path => Vector[(CommitRecord, Boolean)]) {
    private val dir = nsDir.resolve("commits")
    private var loaded: Vector[(CommitRecord, Boolean)] = Vector.empty
    private var coldLoaded = false
    private var listedMtime: java.nio.file.attribute.FileTime = null
    private var listedTrusted = false

    /** The commits loaded so far; None before the cold load. */
    def current: Option[Vector[(CommitRecord, Boolean)]] =
      if (coldLoaded) Some(loaded) else None

    /** The commit log with every commit published so far. */
    def refresh(): Vector[(CommitRecord, Boolean)] = {
      if (!coldLoaded) {
        listedAt(mtimeOf(dir))
        loaded = cold(nsDir)
        coldLoaded = true
      } else {
        val lastId = loaded.lastOption.fold(-1L)(_._1.id)
        val found = probe(lastId)
        if (found.nonEmpty) loaded = loaded ++ found
        else {
          val m = mtimeOf(dir)
          if (m != listedMtime || (!listedTrusted && aged(m))) {
            listedAt(m)
            loaded = loaded ++ newCommitFiles(nsDir, loaded.size, lastId).map(parseCommit)
          }
        }
      }
      loaded
    }

    private def aged(m: java.nio.file.attribute.FileTime): Boolean =
      m != null && System.currentTimeMillis() - m.toMillis >= MtimeEpsilonMs

    /** Records the mtime read just before a listing. */
    private def listedAt(m: java.nio.file.attribute.FileTime): Unit = {
      listedMtime = m
      listedTrusted = aged(m)
    }

    /** The commits published at `lastId + 1` onward, up to the first id
      * with no commit file. */
    private def probe(lastId: Long): Vector[(CommitRecord, Boolean)] = {
      val out = Vector.newBuilder[(CommitRecord, Boolean)]
      var id = lastId + 1
      var more = true
      while (more) {
        val p = dir.resolve(f"$id%012d.json")
        try { out += parseCommit(p); id += 1 }
        catch { case _: java.nio.file.NoSuchFileException => more = false }
      }
      out.result()
    }
  }

  /** Pushed-predicate bounds used to skip whole commits from metadata —
    * the Spark-native analogue of the reference's sealed-count segment
    * skipping (distributed-walrus/src/controller/mod.rs:209-224). Offset
    * AND ts pruning use the per-topic [[graft.log.TopicRange]] each commit
    * records (ranges carry inclusive `ts_us` bounds; a compaction commit
    * inherits min/max over the ranges it replaces, so compacted logs keep
    * time pruning — VERDICT r8). Residual evaluation stays with
    * Spark's post-scan Filter (codegen'd), so pruning here is purely an
    * IO reduction, never a semantics change. */
  private[graft] final case class PruneSpec(
      topics: Option[Set[String]] = None,
      offsetMin: Long = Long.MinValue, offsetMax: Long = Long.MaxValue,
      tsUsMin: Long = Long.MinValue, tsUsMax: Long = Long.MaxValue,
      /** Kafka `subscribePattern` parity: a Java regex the FULL topic
        * name must match. Resolved per commit at plan/admission time (not
        * once at subscription), so a topic registered after the
        * scan/stream started is picked up the moment its first commit
        * lands — Kafka's periodic pattern re-resolution, at trigger
        * granularity. Composes with exact-topic pruning (conjunction);
        * carried in the spec so every surface (batch planning, metadata
        * aggregates, statistics, admission control, real-time slices)
        * prunes identically. */
      topicPattern: Option[String] = None) {
    @transient private lazy val patternRe =
      topicPattern.map(java.util.regex.Pattern.compile)
    def isNoop: Boolean = this == PruneSpec()
    /** No offset or ts bound pushed: those prune at commit granularity,
      * so only then do metadata row counts match what the scan delivers. */
    def boundsFree: Boolean =
      offsetMin == Long.MinValue && offsetMax == Long.MaxValue &&
        tsUsMin == Long.MinValue && tsUsMax == Long.MaxValue
    def withTopic(t: Option[String]): PruneSpec = t match {
      case Some(v) => copy(topics = Some(topics.getOrElse(Set(v)).intersect(Set(v))))
      case None => this
    }
    def topicMatches(t: String): Boolean =
      topics.forall(_.contains(t)) && patternRe.forall(_.matcher(t).matches())
    def commitMatches(c: CommitRecord): Boolean = {
      // a row of topic t lies in [r.start, r.end) × [tsLo, tsHi] — the
      // commit survives iff SOME surviving topic range overlaps both
      // pushed intervals (per-range conjunction: strictly tighter than
      // testing offset and ts against the whole commit)
      c.topics.exists { case (t, r) =>
        topicMatches(t) &&
          r.start <= offsetMax && r.end - 1 >= offsetMin &&
          r.tsUsMax >= tsUsMin && r.tsUsMin <= tsUsMax
      }
    }
    override def toString: String = {
      val parts = Seq(
        topics.map(t => s"topic IN {${t.toSeq.sorted.mkString(",")}}"),
        topicPattern.map(p => s"topic RLIKE '$p'"),
        if (offsetMin != Long.MinValue) Some(s"offset >= $offsetMin") else None,
        if (offsetMax != Long.MaxValue) Some(s"offset <= $offsetMax") else None,
        if (tsUsMin != Long.MinValue) Some(s"ts_us >= $tsUsMin") else None,
        if (tsUsMax != Long.MaxValue) Some(s"ts_us <= $tsUsMax") else None).flatten
      parts.mkString(", ")
    }
  }

  /** Fold the pushable subset of `filters` into a [[PruneSpec]]; returns
    * the spec plus the filters it actually consumed (for explain). Only
    * top-level conjuncts on `topic`/`offset`/`ts_us` are considered —
    * Spark has already split conjunctions before `pushFilters`. */
  private[sources] def pruneSpecFrom(filters: Array[Filter]): (PruneSpec, Array[Filter]) = {
    var spec = PruneSpec()
    val used = filters.filter {
      case EqualTo("topic", v: String) =>
        spec = spec.withTopic(Some(v)); true
      case In("topic", vs) if vs.forall(_.isInstanceOf[String]) =>
        val set = vs.map(_.asInstanceOf[String]).toSet
        spec = spec.copy(topics = Some(spec.topics.fold(set)(_ intersect set))); true
      case f: Filter => numericBound(f) match {
        case Some(("offset", lo, hi)) =>
          spec = spec.copy(offsetMin = math.max(spec.offsetMin, lo),
            offsetMax = math.min(spec.offsetMax, hi)); true
        case Some(("ts_us", lo, hi)) =>
          spec = spec.copy(tsUsMin = math.max(spec.tsUsMin, lo),
            tsUsMax = math.min(spec.tsUsMax, hi)); true
        case _ => f match {
          case IsNotNull("topic" | "offset" | "ts_us" | "value" | "checksum") =>
            true // engine columns are never null: trivially satisfied
          case _ => false
        }
      }
    }
    (spec, used)
  }

  /** Filters whose semantics are FULLY enforced by metadata/dir pruning —
    * safe to drop from the post-scan residual, not just prune with: exact
    * topic membership (the `topic=` partition directory IS the topic — a
    * surviving dir contains only matching rows) and never-null engine
    * columns. Offset/ts bounds stay residual (commit-granular pruning
    * keeps partial commits). Dropping these is what lets Catalyst push a
    * whole Aggregate into the scan (aggregate pushdown requires an empty
    * post-scan filter list). */
  private[sources] def exactlyPruned(f: Filter): Boolean = f match {
    case EqualTo("topic", _: String) => true
    case In("topic", vs) if vs.forall(_.isInstanceOf[String]) => true
    case IsNotNull("topic" | "offset" | "ts_us" | "value" | "checksum") => true
    case _ => false
  }

  /** Inclusive [lo, hi] bound contributed by one comparison filter on a
    * long column, if it is one we prune on. */
  private def numericBound(f: Filter): Option[(String, Long, Long)] = {
    def long(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
    f match {
      case EqualTo(a, v) => long(v).map(x => (a, x, x))
      case GreaterThan(a, v) => long(v).map(x => (a, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a, v) => long(v).map(x => (a, x, Long.MaxValue))
      case LessThan(a, v) => long(v).map(x => (a, Long.MinValue, x - 1))
      case LessThanOrEqual(a, v) => long(v).map(x => (a, Long.MinValue, x))
      case _ => None
    }
  }

  /** Pushed LIMIT/TopN commit trimming — the pure metadata computation
    * behind [[WalrusLogScan]]'s limitPrefix, kept static so the
    * soundness invariant ("the kept commits contain the true top-n rows
    * under ANY layout, compactions included") is property-testable
    * without building logs (PropertySpec). Semantics and the threshold
    * argument: see limitPrefix's scaladoc. */
  private[graft] def trimForLimit(commits: Seq[(CommitRecord, Boolean)],
      spec: PruneSpec, limit: Option[Int],
      limitOrderCol: Option[String], limitFromTail: Boolean)
      : Seq[(CommitRecord, Boolean)] = {
    def rowsOf(c: CommitRecord): Long =
      c.topics.iterator.collect { case (t, r) if spec.topicMatches(t) => r.rows }.sum
    limit match {
      case None => commits
      case Some(_) if !spec.boundsFree => commits
      case Some(n) if limitOrderCol.isEmpty =>
        var covered = 0L
        commits.takeWhile { case (c, flagged) =>
          val take = covered < n
          if (take && !flagged) covered += rowsOf(c)
          take
        }
      case Some(n) if limitOrderCol.contains("offset") =>
        // per topic: order its covering commits by the topic's recorded
        // offset range (NOT by commit id — compaction breaks id order)
        // and take until that topic's rows cover n; union across topics
        val keep = scala.collection.mutable.Set.empty[Long]
        commits.iterator.filter(!_._2)
          .flatMap { case (c, _) => c.topics.iterator.collect {
            case (t, r) if spec.topicMatches(t) => (t, c.id, r, r.rows) } }
          .toSeq.groupBy(_._1).foreach { case (_, cover) =>
            val ordered =
              if (limitFromTail)
                cover.sortBy { case (_, _, r, _) => r.end }(Ordering[Long].reverse)
              else cover.sortBy { case (_, _, r, _) => r.start }
            var covered = 0L
            ordered.foreach { case (_, id, _, lb) =>
              if (covered < n) { keep += id; covered += lb }
            }
          }
        commits.filter { case (c, flagged) => !flagged && keep(c.id) }
      case Some(n) => // limitOrderCol = Some("ts_us")
        // per-commit ts bounds and rows over the spec-matching topics
        val cand = commits
          .collect { case (c, false) =>
            (c, c.topics.collect { case (t, r) if spec.topicMatches(t) => r }) }
          .collect { case (c, rs) if rs.nonEmpty =>
            (c, rs.map(_.tsUsMin).min, rs.map(_.tsUsMax).max, rs.map(_.rows).sum) }
        val ordered =
          if (limitFromTail)
            cand.sortBy { case (_, lo, _, _) => lo }(Ordering[Long].reverse)
          else cand.sortBy { case (_, _, hi, _) => hi }
        var covered = 0L
        var threshold = if (limitFromTail) Long.MinValue else Long.MaxValue
        val it = ordered.iterator
        while (covered < n && it.hasNext) {
          val (_, lo, hi, rows) = it.next()
          covered += rows
          threshold = if (limitFromTail) lo else hi
        }
        val keep =
          if (covered < n) cand.map(_._1.id).toSet // < n rows total: all live
          else cand.collect { case (c, lo, hi, _)
            if (if (limitFromTail) hi >= threshold else lo <= threshold) =>
              c.id }.toSet
        commits.filter { case (c, flagged) => !flagged && keep(c.id) }
    }
  }

  /** Partition-planning invocation counter — a test probe pinning the
    * one-listing-per-scan contract of [[WalrusLogScan.plannedPartitions]]
    * (outputPartitioning × N plans + execution share ONE dir walk). */
  private[graft] val partitionPlanCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The one read planner, behind batch scans, micro-batches and the
    * log's driver-side reads: the live, unpruned commits' files of each
    * topic, in commit order, packed into multi-file partitions by
    * [[pack]]. Each file carries its topic, its commit id (the `_commit`
    * constant) and a batch capacity sized to its covering range's exact
    * row count. Topic dirs come from the topics each commit records, so
    * planning lists only the dirs it reads. A partition may hold several
    * topics' files (each topic's still in commit order), unless a scan
    * reading `required` reports key-grouped partitioning
    * ([[keyGroupedOnTopic]]), which needs one topic per partition. */
  private[graft] def partitionsFor(
      nsDir: Path, commits: Seq[(CommitRecord, Boolean)],
      topic: Option[String],
      required: StructType,
      prune: PruneSpec = PruneSpec()): Array[InputPartition] = {
    partitionPlanCount.incrementAndGet()
    val spec = prune.withTopic(topic)
    val byTopic = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(WalrusFile, Long)]]
    commits.foreach {
      case (_, true) => () // vacuumed: data reclaimed, skip
      case (c, _) if !spec.commitMatches(c) => () // pruned by pushdown
      case (c, _) =>
        topicDirsOf(nsDir, c, spec).foreach { case (t, td) =>
          val files = parquetFiles(td).map(_.toString).sorted
          // the range's bytes are spread evenly over its files; each file
          // holds at most the range's rows
          val bytes = c.topics(t).bytes
          val capacity = graft.io.LogParquet.capacityFor(c, t)
          val out = byTopic.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty)
          files.foreach(f => out += ((WalrusFile(f, t, c.id, capacity), bytes / files.size)))
        }
    }
    // Spark's file-split settings, the inputs of `FilePartition.maxSplitBytes`
    // (Spark's defaults when no session is active)
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val slots = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.defaultParallelism).getOrElse(1))
    val groups = byTopic.valuesIterator.map(_.toSeq).toSeq
    pack(if (keyGroupedOnTopic(required)) groups else Seq(groups.flatten),
      conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes, math.max(1, slots))
  }

  /** Packs each group's `(file, bytes)` list, in order, into
    * [[WalrusFilePartition]]s of that group alone. Spark's split rule with
    * the group boundary kept: the `slots` read slots are shared among the
    * groups, one each and the rest in proportion to their cost (bytes plus
    * the `open` cost per file, largest remainder first), and a group's
    * files are cut into at most that many runs of near-equal cost. As in
    * `FilePartition.getFilePartitions`, a file that would take a run past
    * `maxPartitionBytes` starts a new partition, so a partition of several
    * files holds at most `maxPartitionBytes` plus an open cost per extra
    * file. Plans at most max(groups, slots) partitions unless that size
    * splits them. */
  private[graft] def pack(groups: Seq[Seq[(WalrusFile, Long)]],
      maxPartitionBytes: Long, open: Long, slots: Int): Array[InputPartition] = {
    val costs = groups.map(_.iterator.map(_._2 + open).sum)
    val total = costs.sum
    val extra = math.max(0, slots - groups.size)
    val exact = costs.map(c => if (total > 0) c.toDouble * extra / total else 0.0)
    val bonus = exact.zipWithIndex.sortBy { case (e, i) => (e.floor - e, i) }
      .take(extra - exact.map(_.toInt).sum).map(_._2).toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    groups.zip(costs).zipWithIndex.foreach { case ((files, cost), i) =>
      val runs = math.min(files.size, 1 + exact(i).toInt + (if (bonus(i)) 1 else 0))
      val cur = scala.collection.mutable.ArrayBuffer.empty[WalrusFile]
      var size = 0L   // cost of the open partition
      var before = 0L // cost of the group's files before this one
      var run = 0
      def close(): Unit = if (cur.nonEmpty) {
        out += WalrusFilePartition(cur.toVector); cur.clear(); size = 0L
      }
      files.foreach { case (f, bytes) =>
        val r = if (cost > 0) math.min(runs - 1, (before.toDouble * runs / cost).toInt) else 0
        if (r != run || size + bytes > maxPartitionBytes) close()
        run = r
        size += bytes + open
        before += bytes + open
        cur += f
      }
      close()
    }
    out.toArray
  }

  /** Whether a scan reading `required` reports key-grouped partitioning
    * on `topic` (see [[WalrusLogScan.outputPartitioning]]): only with
    * `spark.sql.sources.v2.bucketing.enabled` and `topic` read. */
  private[sources] def keyGroupedOnTopic(required: StructType): Boolean = {
    val bucketing = try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    catch { case _: Exception => false }
    bucketing && required.fieldNames.contains("topic")
  }

  /** The `topic=` dirs of commit `c` that `spec` keeps, named from the
    * topics the commit records (the writers' own escaping), in dir-name
    * order. */
  private def topicDirsOf(nsDir: Path, c: CommitRecord, spec: PruneSpec): Seq[(String, Path)] = {
    val batchDir = nsDir.resolve("data").resolve(s"batch=${c.id}")
    c.topics.keysIterator.filter(spec.topicMatches).map { t =>
      t -> batchDir.resolve(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString("topic", t))
    }.toSeq.sortBy(_._2.getFileName.toString)
  }

  /** The data files of a topic dir; none when the dir is gone (a vacuum
    * or compaction reclaimed it after the commit list was taken). */
  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = try Files.list(dir) catch { case _: java.nio.file.NoSuchFileException => return Seq.empty }
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
    finally s.close()
  }

  /** Stable topic → real-time-reader-partition assignment (String.hashCode
    * is spec-fixed, so drivers and executors of any JVM agree). */
  private[sources] def rtPartitionOf(topic: String, numPartitions: Int): Int =
    ((topic.hashCode % numPartitions) + numPartitions) % numPartitions

  /** The (topic, file, batch capacity) slice of one commit owned by one
    * real-time reader partition, in a DETERMINISTIC order (topic dir name,
    * then file name) — row-granular offsets within a commit are only
    * replayable because this order is stable across listings and JVMs. */
  private[sources] def sliceFiles(nsDir: Path, c: CommitRecord,
      topic: Option[String], prune: PruneSpec,
      partitionId: Int, numPartitions: Int): Seq[(String, String, Int)] = {
    val spec = prune.withTopic(topic)
    if (!spec.commitMatches(c)) return Seq.empty
    topicDirsOf(nsDir, c, spec).flatMap { case (t, td) =>
      if (rtPartitionOf(t, numPartitions) != partitionId) Seq.empty
      else {
        val capacity = graft.io.LogParquet.capacityFor(c, t)
        parquetFiles(td).sortBy(_.getFileName.toString)
          .map(f => (t, f.toString, capacity))
      }
    }
  }
}

class WalrusLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_commit`: the commit/batch id that published each row — provenance
    * (which ingest batch produced this row, joinable against the commit
    * metadata surfaces: time travel, change feed, snapshot manifest)
    * without burning a data column. A partition-level CONSTANT (one
    * commit per batch directory), so selecting it costs nothing: the
    * vectorized reader fills it exactly like the `topic` dir constant. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_commit"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "id of the commit (batch) that published this row"
    })
  // The catalog path arrives as a file: URI (CREATE TABLE ... USING
  // walruslog normalizes OPTIONS('path')); the DataFrame path passes the
  // raw filesystem path. Accept both.
  private val root = Option(options.get("path"))
    .map(p => if (p.startsWith("file:")) Paths.get(java.net.URI.create(p)).toString else p)
    .getOrElse(throw new IllegalArgumentException("walruslog requires option 'path'"))
  private val namespace = Option(options.get("namespace")).getOrElse("default")
  private[sources] val nsDir: Path =
    Paths.get(root, graft.log.WalrusLog.sanitizeKey(namespace))

  override def name(): String = s"walruslog:$root/$namespace"
  override def schema(): StructType = WalrusLogSource.Schema

  /** Catalog-managed tables (loaded via [[WalrusCatalog]], which sets this
    * option) additionally accept `INSERT INTO` through the V1 write
    * bridge. Path-loaded tables deliberately do NOT claim it: their write
    * surface is `df.write.format("walruslog")`, whose SaveMode semantics
    * (ErrorIfExists/Ignore/topic routing/seqCol) live in `createRelation`
    * and would be bypassed by a V2 AppendData plan. */
  private val catalogManaged = options.getBoolean("catalogManaged", false)

  override def capabilities(): java.util.Set[TableCapability] =
    (Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ) ++
      (if (catalogManaged) Set(TableCapability.V1_BATCH_WRITE) else Set.empty)).asJava

  /** Column metadata with defaults for the engine-assigned columns
    * (`offset`/`ts_us`/`checksum` default NULL — the commit protocol
    * assigns them) and, on a catalog-managed topic table, the topic name
    * itself — so `INSERT INTO wal.ns.t (value) VALUES (...)` is the whole
    * statement. */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => CColumn, ColumnDefaultValue}
    // the connector-layer LiteralValue is private[sql]; the Literal
    // interface is public — implement it directly
    def clit[T](v: T, t: DataType): org.apache.spark.sql.connector.expressions.Literal[T] =
      new org.apache.spark.sql.connector.expressions.Literal[T] {
        override def value(): T = v
        override def dataType(): DataType = t
      }
    def nullDefault(t: DataType) = new ColumnDefaultValue("NULL", clit(null, t))
    val topicDefault = Option(options.get("topic")).map(t =>
      new ColumnDefaultValue(s"'$t'", clit(UTF8String.fromString(t), StringType)))
    Array(
      CColumn.create("offset", LongType, true, null, nullDefault(LongType), null),
      CColumn.create("ts_us", LongType, true, null, nullDefault(LongType), null),
      CColumn.create("value", BinaryType),
      CColumn.create("checksum", LongType, true, null, nullDefault(LongType), null),
      topicDefault.map(d => CColumn.create("topic", StringType, true, null, d, null))
        .getOrElse(CColumn.create("topic", StringType)))
  }

  /** `INSERT INTO` (catalog-managed tables): the aligned rows become one
    * atomic commit via [[graft.log.WalrusLog.appendDF]]. Engine-assigned
    * columns (`offset`/`ts_us`/`checksum`) are ignored — the commit
    * protocol assigns them — and on a topic table every row lands in THE
    * table's topic (the table IS the topic). INSERT OVERWRITE is rejected:
    * published entries are immutable. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
                require(!overwrite,
                  "walruslog is append-only: INSERT OVERWRITE is not supported — " +
                    "expire data via retention (vacuum/retainBytes) and append")
                import org.apache.spark.sql.functions.{col, lit}
                val routed = Option(options.get("topic")) match {
                  case Some(t) => data.withColumn("topic", lit(t))
                  case None => data
                }
                new graft.log.WalrusLog(data.sparkSession, root, namespace)
                  .appendDF(routed.select(col("topic"), col("value")))
                ()
              }
            }
        }
    }

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit
        with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
      private var required: StructType = WalrusLogSource.Schema
      // ONE effective option view — table-level options overlaid by the
      // per-read (scan) options — so the exclusivity check below and
      // every built scan read topic/topicPattern from the SAME map. A
      // catalog table's stored OPTIONS and a per-read `.option(...)` can
      // diverge; checking one map and scanning the other would let an
      // inconsistent pair slip through (ADVICE r10).
      private val effOptions: CaseInsensitiveStringMap = {
        val m = new java.util.HashMap[String, String]()
        options.entrySet().asScala.foreach(e => m.put(e.getKey, e.getValue))
        o.entrySet().asScala.foreach(e => m.put(e.getKey, e.getValue))
        new CaseInsensitiveStringMap(m)
      }
      // Kafka subscribePattern parity: an option-borne regex over topic
      // names, carried in the prune spec so it survives pushFilters
      // replacing the pushed bounds and flows into every built surface
      private val topicPattern = Option(effOptions.get("topicPattern"))
      // eager compile: an invalid pattern must fail AT READ SETUP with
      // context, not as a bare PatternSyntaxException mid-planning when
      // the spec first matches a topic name
      topicPattern.foreach { p =>
        try java.util.regex.Pattern.compile(p)
        catch { case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"walruslog: invalid topicPattern '$p': ${e.getMessage}", e)
        }
      }
      require(topicPattern.isEmpty || Option(effOptions.get("topic")).isEmpty,
        "topic and topicPattern are mutually exclusive (Kafka's " +
          "subscribe vs subscribePattern rule)")
      private var prune: WalrusLogSource.PruneSpec =
        WalrusLogSource.PruneSpec(topicPattern = topicPattern)
      private var pushed: Array[Filter] = Array.empty
      private var aggPushed: Option[(Boolean, Seq[String])] = None
      private var limitPushed: Option[Int] = None
      private var limitFromTail: Boolean = false
      private var limitOrderCol: Option[String] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        // once an aggregate is pushed, the read schema IS the aggregate
        // output — later pruning calls must not narrow it
        if (aggPushed.isEmpty) required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (spec, used) = WalrusLogSource.pruneSpecFrom(filters)
        prune = spec.copy(topicPattern = topicPattern)
        pushed = used
        // offset/ts filters stay residual (pruning is commit-granular:
        // rows inside a surviving commit still need the codegen'd
        // post-scan Filter); exact-topic and never-null filters are FULLY
        // enforced by directory pruning and drop out of the residual —
        // which also unblocks whole-Aggregate pushdown below
        filters.filterNot(WalrusLogSource.exactlyPruned)
      }
      override def pushedFilters(): Array[Filter] = pushed

      /** COUNT/MIN(offset)/MAX(offset)/MIN(ts_us)/MAX(ts_us), optionally
        * grouped by topic, are answered from commit METADATA (each commit
        * records exact per-topic offset ranges and ts bounds) — zero data
        * IO at any log size: counting a 100 TB namespace costs one
        * manifest read. Only legal when no offset/ts bound was pushed
        * (those prune at commit granularity, so metadata totals would
        * overcount). Engine columns are never null, so
        * COUNT(col) ≡ COUNT(*). */
      private def aggSpec(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(Boolean, Seq[String])] = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate._
        def name(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
          e match {
            case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
            case _ => None
          }
        if (!prune.boundsFree) return None
        val byTopic = agg.groupByExpressions.toSeq match {
          case Seq() => Some(false)
          case Seq(g) if name(g).contains("topic") => Some(true)
          case _ => None
        }
        val cols = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some("count")
          case c: Count if !c.isDistinct && name(c.column).exists(
            Set("topic", "offset", "ts_us", "value", "checksum")) => Some("count")
          case m: Min if name(m.column).contains("offset") => Some("min_offset")
          case m: Max if name(m.column).contains("offset") => Some("max_offset")
          case m: Min if name(m.column).contains("ts_us") => Some("min_ts")
          case m: Max if name(m.column).contains("ts_us") => Some("max_ts")
          case _ => None
        }
        for (bt <- byTopic; cs <- Some(cols) if cs.forall(_.isDefined))
          yield (bt, cs.map(_.get))
      }

      /** ONE commit listing per built scan, shared by whichever scan
        * this builder builds — evaluated lazily on first use. */
      private lazy val builderCommits: Vector[(CommitRecord, Boolean)] =
        WalrusLogSource.listCommits(nsDir)

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        aggSpec(agg).isDefined

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        aggSpec(agg) match {
          case s @ Some(_) => aggPushed = s; true
          case None => false
        }

      /** LIMIT pushdown as PARTITION-LIST trimming: each commit records
        * its exact per-topic row counts, so planning keeps only a prefix
        * of commits whose surviving topics already cover the limit — a
        * `.limit(10)` peek at a million-commit namespace opens a handful
        * of files instead of all of them. PARTIAL push (Spark still
        * applies the LIMIT operator; we only bound the IO), and only when
        * no offset/ts bound is pushed — those filter rows WITHIN
        * surviving commits, so a row-count prefix could under-deliver. */
      override def pushLimit(limit: Int): Boolean = {
        if (prune.boundsFree && limit > 0) { limitPushed = Some(limit); true }
        else false
      }
      override def isPartiallyPushed(): Boolean = true

      /** TopN pushdown — the "head/tail a log" paths, both PARTIAL (Spark
        * still runs its TopN over the surviving rows, so interleaving and
        * exact order stay correct) and only on a bounds-free spec, like
        * the limit.
        *
        * `ORDER BY offset`: offsets are PER-TOPIC counters that ascend
        * with commit id, so each topic's ASC top-k candidates live in that
        * topic's own commit prefix (DESC: suffix) — the planner trims
        * commits PER TOPIC (a global-prefix trim would silently drop
        * another topic's low offsets — ADVICE r8).
        *
        * `ORDER BY ts_us`: every ingest commit is a POINT in time (all
        * entries share the commit ts), so "the newest k entries by time"
        * is covered by the commits with the largest ts whose surviving
        * row counts reach k — tail-by-time over an arbitrarily old log
        * opens a handful of files (the time-domain twin of the offset
        * tail, riding the r9 per-commit ts bounds). */
      override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
          limit: Int): Boolean = {
        import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
        val orderCol = if (orders.length != 1) None
        else orders(0).expression() match {
          case r: NamedReference if r.fieldNames.length == 1 &&
              Set("offset", "ts_us")(r.fieldNames()(0)) => Some(r.fieldNames()(0))
          case _ => None
        }
        if (prune.boundsFree && orderCol.isDefined && limit > 0) {
          limitPushed = Some(limit)
          limitOrderCol = orderCol
          limitFromTail = orders(0).direction() == SortDirection.DESCENDING
          true
        } else false
      }

      override def build(): Scan = aggPushed match {
        case Some((byTopic, cols)) =>
          WalrusAggRowsScan.fromMetadata(nsDir, effOptions, prune, byTopic,
            cols, Some(() => builderCommits))
        case None =>
          new WalrusLogScan(nsDir, effOptions, required, prune, limitPushed,
            limitFromTail, limitOrderCol, Some(() => builderCommits))
      }
    }
}

class WalrusLogScan(nsDir: Path, options: CaseInsensitiveStringMap,
    required: StructType,
    prune: WalrusLogSource.PruneSpec = WalrusLogSource.PruneSpec(),
    limit: Option[Int] = None, limitFromTail: Boolean = false,
    limitOrderCol: Option[String] = None,
    commitsProvider: Option[() => Vector[(CommitRecord, Boolean)]] = None)
    extends Scan with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** The `topic=` directory layout is a bucketed table on `topic`: report
    * key-grouped partitioning so Spark elides the exchange for per-topic
    * aggregations and co-partitioned log⋈log joins (storage-partitioned
    * join) when `spark.sql.sources.v2.bucketing.enabled` is set. Only
    * reported while `topic` survives column pruning — the key must
    * resolve against the scan output. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // partition planning (a full file listing) only when the feature can
    // actually be used — Spark calls this on EVERY plan of the scan, and
    // with bucketing disabled the answer is discarded
    if (WalrusLogSource.keyGroupedOnTopic(required))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("topic")),
        plannedPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  /** Planned file partitions, memoized per SCAN LIFETIME and per effective
    * prune spec: Spark calls [[outputPartitioning]] on every plan of the
    * scan AND plans execution partitions once more — without the memo each
    * call re-walked every topic directory of every commit, a driver-side
    * listing storm at 10⁶ commits with SPJ enabled (VERDICT r8). The
    * commits snapshot is already fixed for the scan's lifetime (batch
    * point-in-time semantics), so caching the derived listing is the same
    * consistency argument; the spec key keeps a runtime filter arriving
    * AFTER an outputPartitioning call from replaying the stale listing. */
  @volatile private var plannedCache
      : Option[(WalrusLogSource.PruneSpec, Array[InputPartition])] = None
  private val plannedLock = new Object
  private def plannedPartitions(): Array[InputPartition] = {
    val spec = effectivePrune
    plannedCache match {
      case Some((s, parts)) if s == spec => parts
      case _ => plannedLock.synchronized {
        // re-check under the lock: concurrent plan evaluations (an
        // outputPartitioning call racing execution planning) must share
        // ONE listing, not each run the full directory walk (ADVICE r9)
        plannedCache match {
          case Some((s, parts)) if s == spec => parts
          case _ =>
            val parts = WalrusLogSource.partitionsFor(nsDir,
              limitPrefix(visibleAsOf(commitsSnapshot), spec.withTopic(topic)),
              topic, required, spec)
            plannedCache = Some((spec, parts))
            parts
        }
      }
    }
  }
  private val topic = Option(options.get("topic"))

  /** Time travel (the Delta `versionAsOf`/`timestampAsOf` analogues):
    * `asOfCommit = N` reads the log exactly as it was when commit N was
    * the newest; `asOfTimestampMs = T` resolves to the newest commit
    * published at or before T (same rule as the catalog's
    * `TIMESTAMP AS OF`) — the commit log IS the version history, so both
    * are metadata filters, not data operations. Composes with pushdown/
    * runtime pruning and with [[estimateStatistics]] (stats describe the
    * as-of view). Batch reads only; streams by definition tail the live
    * log. */
  private val asOfCommit: Option[Long] = Option(options.get("asOfCommit")).map(_.toLong)
  private val asOfTimestampMs: Option[Long] =
    Option(options.get("asOfTimestampMs")).map(_.toLong)
  require(asOfCommit.isEmpty || asOfTimestampMs.isEmpty,
    "asOfCommit and asOfTimestampMs are mutually exclusive")

  private lazy val asOfResolved: Option[Long] = asOfCommit.orElse(
    asOfTimestampMs.map { ms =>
      val id = commitsSnapshot.iterator.map(_._1)
        .filter(_.tsMillis <= ms).foldLeft(-1L)((m, c) => math.max(m, c.id))
      require(id >= 0,
        s"no commit published at or before timestamp $ms ms in $nsDir")
      id
    })

  /** Batch publish-time window (the Kafka `startingTimestamp`/
    * `endingTimestamp` batch-read parity pair, completing round 9's
    * stream-side `startingTimestampMs`): keep the commits PUBLISHED in
    * `[startingTimestampMs, endingTimestampMs)` — Kafka's offset
    * resolution is positional over log-append time, not a row filter,
    * and so is this: whole commits in, whole commits out, resolved
    * purely from metadata (zero data IO at any log size). Row-event-time
    * windows remain ordinary pushed `ts_us` predicates. Composes with
    * as-of time travel (both are metadata filters over the same
    * snapshot), statistics, limit/TopN trimming, and the metadata
    * aggregate scan (which applies the same window). */
  private val startingTsMs: Option[Long] =
    Option(options.get("startingTimestampMs")).map(_.toLong)
  private val endingTsMs: Option[Long] =
    Option(options.get("endingTimestampMs")).map(_.toLong)
  require(startingTsMs.forall(s => endingTsMs.forall(_ > s)),
    "endingTimestampMs must be greater than startingTimestampMs")

  private def visibleAsOf(commits: Seq[(CommitRecord, Boolean)]): Seq[(CommitRecord, Boolean)] = {
    val base = asOfResolved match {
      case Some(n) => commits.filter(_._1.id <= n)
      case None => commits
    }
    if (startingTsMs.isEmpty && endingTsMs.isEmpty) base
    else base.filter { case (c, _) =>
      startingTsMs.forall(c.tsMillis >= _) && endingTsMs.forall(c.tsMillis < _)
    }
  }

  override def readSchema(): StructType = required

  /** One commit-log parse per scan lifetime (manifest-accelerated cold
    * start): statistics estimation and partition planning share this
    * snapshot — batch semantics are point-in-time anyway, and a commit
    * landing between optimization and execution is simply past the
    * snapshot, the same atomic-visibility argument as the engine's reads.
    * A vacuum landing after the snapshot leaves a stale `false` flag; the
    * planner tolerates it (a reclaimed batch's dir listing is empty). */
  private lazy val commitsSnapshot: Vector[(CommitRecord, Boolean)] =
    commitsProvider.map(_()).getOrElse(WalrusLogSource.listCommits(nsDir))

  /** Exact post-pushdown size/row statistics from commit metadata (the
    * per-topic counts and payload-byte sums every commit records) — no
    * data IO at any log size. Without this a DSv2 relation reports
    * `defaultSizeInBytes` (effectively infinite), so a topic-pruned log
    * scan could NEVER be auto-chosen as a broadcast build side; with it,
    * Catalyst's join planning sees the log like a well-analyzed table.
    * Bytes include the per-entry metadata overhead the read budget uses,
    * so the estimate is the decoded width, not just payload. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val meta = WalrusLogSource.metaOverheadBytes(nsDir)
    val spec = prune.withTopic(topic)
    var rows = 0L
    var bytes = 0L
    visibleAsOf(commitsSnapshot).foreach {
      case (c, vacuumed) if !vacuumed && spec.commitMatches(c) =>
        c.topics.foreach { case (t, r) =>
          if (spec.topicMatches(t)) {
            rows += r.rows
            bytes += r.bytes + meta * r.rows
          }
        }
      case _ => ()
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"WalrusLogScan($nsDir, topic=$topic, columns=${required.fieldNames.mkString(",")}" +
      (if (prune.isNoop) ")" else s", pushed=[$prune])")

  // -------------------------------------------------- runtime filtering
  // The dynamic-partition-pruning analogue for the log: when this scan is
  // the probe side of a join on `topic`/`offset`, Spark evaluates the
  // build side FIRST and hands the resulting values here at RUNTIME —
  // whole topic dirs / commits are then skipped from metadata exactly
  // like compile-time pushdown, but with values only a join can know
  // (e.g. "the topics in this dim table slice"). At 100 TB this is the
  // difference between scanning every topic of a namespace and opening
  // only the joined ones.
  @volatile private var runtimePrune: WalrusLogSource.PruneSpec = WalrusLogSource.PruneSpec()

  // only columns that SURVIVED pruning may be declared (Spark resolves
  // these against the scan output — a pruned-away column fails analysis)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array("topic", "offset").filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val (spec, _) = WalrusLogSource.pruneSpecFrom(filters)
    runtimePrune = spec
  }

  /** Static pushdown ∧ runtime filters, applied together at plan time. */
  private def effectivePrune: WalrusLogSource.PruneSpec = {
    val r = runtimePrune
    WalrusLogSource.PruneSpec(
      topics = (prune.topics, r.topics) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      },
      offsetMin = math.max(prune.offsetMin, r.offsetMin),
      offsetMax = math.min(prune.offsetMax, r.offsetMax),
      tsUsMin = math.max(prune.tsUsMin, r.tsUsMin),
      tsUsMax = math.min(prune.tsUsMax, r.tsUsMax),
      topicPattern = prune.topicPattern) // option-borne; runtime never sets it
  }

  /** Pushed-LIMIT commit trimming. Plain LIMIT (any n rows satisfy it):
    * keep the commit prefix whose surviving topics' metadata row counts
    * cover `limit` (vacuumed/replaced commits contribute nothing; a
    * compaction commit's `end - start` is an exact row count — it
    * carries the same rows as its replaced sources).
    *
    * TopN on offset: offsets are PER-TOPIC counters, so trimming must
    * cover n rows for EVERY surviving topic independently — a topic
    * registered late still starts at offset 0, so its ASC top-n
    * candidates sit in ITS first commits, not the log's (ADVICE r8).
    * A compaction commit carries OLD offsets at a NEW id, so commit id
    * no longer orders a topic's offsets once compactions exist — but
    * each topic's recorded offset RANGE does: live ranges per topic are
    * disjoint (replaced sources are flagged the instant the compaction
    * commit lands), so ordering each topic's covering commits by its
    * recorded range and taking until that topic covers n restores the
    * "tail a huge compacted log opens a handful of files" property the
    * reference's cursor arithmetic never loses
    * (distributed-walrus/src/controller/mod.rs:199-268 skips sealed
    * segments by metadata at any age).
    *
    * TopN on ts_us: an ingest commit is a ts POINT (every entry carries
    * the commit ts); a compaction commit is a ts RANGE [lo, hi]
    * inherited over its sources. Threshold argument: walking commits by
    * their GUARANTEED bound (DESC: per-commit lo, descending) until
    * surviving row counts reach n yields a threshold T with ≥ n rows of
    * ts ≥ T — so every true top-n row has ts ≥ T and lives in a commit
    * whose hi ≥ T; keeping exactly those is a sound superset. For pure
    * ingest logs (lo = hi) this degenerates to the point walk. Row counts
    * are each range's exact `rows`, never end - start: a compaction
    * merged across a vacuum hole would overcount and stop the walk early.
    *
    * Safety bail-out (return the full list — pure IO give-up, Spark
    * applies the LIMIT/TopN either way): offset/ts bounds arriving via
    * runtime filtering would make metadata row counts overcount what
    * the scan actually delivers. */
  private def limitPrefix(commits: Seq[(CommitRecord, Boolean)],
      spec: WalrusLogSource.PruneSpec): Seq[(CommitRecord, Boolean)] =
    WalrusLogSource.trimForLimit(commits, spec, limit, limitOrderCol,
      limitFromTail)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = plannedPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      new WalrusReaderFactory(required)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // Streams by definition tail the LIVE log; silently ignoring a time
    // travel option would mask a user error as wrong results.
    require(asOfCommit.isEmpty && asOfTimestampMs.isEmpty,
      "asOfCommit/asOfTimestampMs are batch-read options: a stream cannot " +
        "time-travel (use spark.read.format(\"walruslog\") for as-of " +
        "views, or startingTimestampMs to POSITION a fresh stream)")
    // Kafka parity: endingTimestamp is batch-only there too — a stream by
    // definition has no end; silently ignoring it would mask a user error
    require(endingTsMs.isEmpty,
      "endingTimestampMs is a batch-read option: a stream has no end " +
        "(bound a batch read window with starting/endingTimestampMs via " +
        "spark.read.format(\"walruslog\"))")
    new WalrusMicroBatchStream(nsDir, topic,
      Option(options.get("maxBatchesPerTrigger")).map(_.toInt), required, prune,
      Option(options.get("realTimePartitions")).map(_.toInt).getOrElse(2),
      Option(options.get("startingTimestampMs")).map(_.toLong),
      Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      Option(options.get("minRowsPerTrigger")).map(_.toLong),
      Option(options.get("maxTriggerDelayMs")).map(_.toLong)
        .getOrElse(15L * 60 * 1000),
      failOnDataLoss =
        Option(options.get("failOnDataLoss")).exists(_.toBoolean),
      maxBytesPerTrigger =
        Option(options.get("maxBytesPerTrigger")).map(_.toLong))
  }
}

/** Streaming offset = number of commit-log entries consumed. */
case class CommitIndexOffset(commitIndex: Long) extends Offset {
  override def json(): String = s"""{"commitIndex":$commitIndex}"""
}

/** Real-time-mode per-reader progress: position in the ordered commit log
  * plus rows already emitted from the current commit's slice — a batch can
  * end mid-commit (the time budget, not the data, bounds it), so the
  * offset must be row-granular for exactly-once resume. */
case class WalrusRealTimePartitionOffset(
    partitionId: Int, commitIdx: Long, rowInCommit: Long) extends PartitionOffset

/** Real-time-mode composite end offset: every reader partition's
  * (commitIdx, rowInCommit) pair, keyed by partition id, plus the reader
  * partition COUNT the offsets were taken under. Row-granular skips are
  * only replayable against the same hash assignment of topics onto
  * readers, so a checkpoint records `numPartitions` and planning fails
  * fast on a mismatch (the Kafka-source stance on partition-map changes)
  * instead of silently rehashing — which would apply each partition's
  * skip to a different topic slice (duplication and/or loss). */
case class WalrusRealTimeOffset(parts: Map[Int, (Long, Long)],
    numPartitions: Int) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1).map { case (p, (c, r)) =>
      s"""{"p":$p,"commitIdx":$c,"row":$r}"""
    }.mkString(s"""{"n":$numPartitions,"parts":[""", ",", "]}")
}

class WalrusMicroBatchStream(
    nsDir: Path, topic: Option[String], maxBatchesPerTrigger: Option[Int],
    required: StructType,
    prune: WalrusLogSource.PruneSpec = WalrusLogSource.PruneSpec(),
    rtPartitions: Int = 2,
    startingTimestampMs: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    minRowsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    clockMs: () => Long = () => System.currentTimeMillis(),
    failOnDataLoss: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with SupportsRealTimeMode {

  /** The commit log this stream has loaded ([[WalrusLogSource.CommitTail]]):
    * the cold start is newest-manifest + JSON tail, and every later look
    * probes past the newest loaded id, parsing only the new commits (the
    * commit log is append-only by id, so the loaded prefix is stable).
    *
    * Staleness exposure (same as the RTM reader's, documented there): a
    * vacuum that lands after an entry was loaded leaves its flag `false`;
    * planning then finds the reclaimed batch's dir empty and emits zero
    * partitions — an IO-level no-op, never wrong rows.
    *
    * Only [[latestOffset]] (and the AvailableNow fence) look for new
    * commits; the planning and reporting calls of the same trigger read
    * the prefix it refreshed, which covers the end offset they are given. */
  private val tail = new WalrusLogSource.CommitTail(nsDir, WalrusLogSource.assembleCommits)

  /** The commit log with every commit published so far. */
  private def commits: Vector[(CommitRecord, Boolean)] = synchronized(tail.refresh())

  /** A prefix of the commit log holding at least `end` commits (0: any
    * loaded prefix): the loaded one when it does, else a refreshed one. */
  private def commitsThrough(end: Long): Vector[(CommitRecord, Boolean)] = synchronized {
    tail.current.filter(_.size >= end).getOrElse(tail.refresh())
  }

  /** `Trigger.AvailableNow` end-of-stream fence: the commit-log size is
    * latched once at query start and later micro-batches never read past
    * it — so the drain is a bounded sequence of admission-controlled
    * micro-batches (the incremental catch-up loop of the reference's GET
    * path, distributed-walrus/src/controller/mod.rs:199-268), not one
    * unbounded batch. Without this Spark falls back to single-batch
    * execution and `maxBatchesPerTrigger` is bypassed exactly when the
    * backlog is largest. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(commits.size.toLong)

  /** Fresh-start position. `startingTimestampMs` is the Kafka
    * `startingTimestamp` analogue, resolved from COMMIT METADATA (the r9
    * per-topic ts bounds — no data IO at any log age): the stream starts
    * at the first commit whose entries can reach the probe. Commit-
    * granular, which is EXACT for pure-ingest logs (every entry of a
    * commit shares its instant); a compaction commit straddling the probe
    * is delivered whole (lossless side). No qualifying commit → start at
    * the live end, i.e. "only events from T onward". Only consulted on a
    * fresh start: a checkpointed query resumes from its offsets. */
  override def initialOffset(): Offset = CommitIndexOffset(
    startingTimestampMs match {
      case None => 0L
      case Some(ms) =>
        val probeUs = ms * 1000L
        val all = commitsThrough(0L)
        val i = all.indexWhere { case (c, flagged) =>
          !flagged && c.topics.valuesIterator.exists(_.tsUsMax >= probeUs)
        }
        if (i < 0) all.size.toLong else i.toLong
    })

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admission control. `maxBatchesPerTrigger` caps the COMMIT count per
    * micro-batch (ReadMaxFiles); `maxRowsPerTrigger` is the Kafka
    * `maxOffsetsPerTrigger` analogue — a ROW budget resolved from commit
    * metadata (each commit records exact per-topic counts, so no data IO),
    * admitting whole commits until the budget is covered, always ≥ 1 so
    * the stream can't stall on one oversized commit.
    * `minRowsPerTrigger`/`maxTriggerDelayMs` are the Kafka
    * `minOffsetsPerTrigger`/`maxTriggerDelay` pair: a trigger with fewer
    * than `min` new rows available is SKIPPED (no micro-batch) until the
    * delay since the last fired batch expires — small-batch suppression
    * for bursty sources, so state/commit overhead amortizes over real
    * data. All limits compose (the tighter one wins per trigger). */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxBatchesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)).toSeq ++
      maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n)).toSeq ++
      minRowsPerTrigger.map(n => ReadLimit.minRows(n, maxTriggerDelayMs)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case more => ReadLimit.compositeLimit(more.toArray)
    }
  }

  /** The stream's fixed prune view — computed once, not per commit per
    * trigger (ADVICE r9: rebuilding it inside the admission loop was
    * O(topics) driver work per commit per trigger). */
  private lazy val streamSpec = prune.withTopic(topic)

  /** Rows a commit delivers to THIS stream (its topic/prune view). */
  private def commitRows(c: CommitRecord): Long =
    c.topics.iterator.collect {
      case (t, r) if streamSpec.topicMatches(t) => r.rows
    }.sum

  /** Decoded bytes a commit delivers to this stream — payload plus the
    * per-entry metadata overhead, the same width convention the batch
    * scan's estimateStatistics reports. */
  private lazy val metaOverhead: Long = WalrusLogSource.metaOverheadBytes(nsDir)

  private def commitBytes(c: CommitRecord): Long = {
    val meta = metaOverhead
    c.topics.iterator.collect {
      case (t, r) if streamSpec.topicMatches(t) => r.bytes + meta * r.rows
    }.sum
  }

  /** Wall instant of the last FIRED micro-batch — the maxTriggerDelay
    * reference point (Kafka keeps the same per-source clock). Injectable
    * (`clockMs`) so admission specs are deterministic. */
  private var lastTriggerFiredMs: Long = clockMs()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = start match {
    case CommitIndexOffset(startIdx) =>
      val all = commits
      val available = availableNowCap.getOrElse(all.size.toLong)
      def rowsAt(i: Long): Long = {
        val (c, flagged) = all(i.toInt)
        if (flagged) 0L else commitRows(c)
      }
      def applyOne(limit: ReadLimit): Long = limit match {
        case rl: org.apache.spark.sql.connector.read.streaming.ReadMinRows =>
          // gate, not a cap: fewer than minRows new rows → no batch this
          // trigger (return start), unless the delay since the last
          // fired batch expired. AvailableNow drains ignore the gate —
          // the fence demands everything gets delivered.
          var rows = 0L
          var i = startIdx
          while (i < available && rows < rl.minRows()) {
            rows += rowsAt(i); i += 1
          }
          val expired =
            clockMs() - lastTriggerFiredMs >= rl.maxTriggerDelayMs()
          if (rows >= rl.minRows() || expired || availableNowCap.isDefined)
            available
          else startIdx
        case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
          math.min(available, startIdx + rl.maxFiles())
        case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
          var idx = startIdx
          var budget = rl.maxRows()
          var admittedRows = false
          var more = true
          // zero-row commits (vacuumed/pruned) pass for free; the first
          // ROW-BEARING commit always passes (progress guarantee). Each
          // commit's row count is computed ONCE per trigger (ADVICE r9).
          while (more && idx < available) {
            val r = rowsAt(idx)
            if (r == 0L || !admittedRows || budget >= r) {
              if (r > 0L) { budget -= r; admittedRows = true }
              idx += 1
            } else more = false
          }
          idx
        case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
          // the Delta/Auto-Loader maxBytesPerTrigger shape: same whole-
          // commit admission as the row budget, against the DECODED byte
          // width each commit records in metadata (payload + per-entry
          // overhead) — no data IO to plan a trigger, same ≥ 1
          // row-bearing-commit progress guarantee
          var idx = startIdx
          var budget = rl.maxBytes()
          var admitted = false
          var more = true
          while (more && idx < available) {
            val (c, flagged) = all(idx.toInt)
            val b = if (flagged) 0L else commitBytes(c)
            if (b == 0L || !admitted || budget >= b) {
              if (b > 0L) { budget -= b; admitted = true }
              idx += 1
            } else more = false
          }
          idx
        case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
          c.getReadLimits.map(applyOne).min
        case _ => available
      }
      val end = math.max(applyOne(limit), startIdx)
      if (end > startIdx) lastTriggerFiredMs = clockMs()
      CommitIndexOffset(end)
    case rt: WalrusRealTimeOffset =>
      // real-time mode: the engine still asks for the available end, but
      // the batch's TRUE end is whatever the time-budgeted readers reach
      // (mergeOffsets). Report "everything through the latest commit" per
      // partition; admission limits don't apply — time is the budget.
      val latest = commits.size.toLong
      WalrusRealTimeOffset(
        rt.parts.map { case (p, _) => p -> ((latest, 0L)) }, rt.numPartitions)
    case other => throw new IllegalArgumentException(s"unexpected $other")
  }

  /** What this trigger's [[latestOffset]] saw (metrics only). */
  override def reportLatestOffset(): Offset =
    CommitIndexOffset(commitsThrough(0L).size.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CommitIndexOffset].commitIndex.toInt
    val e = end.asInstanceOf[CommitIndexOffset].commitIndex.toInt
    // note: the offset RANGE (s, e] still advances over pruned commits —
    // pruning empties their partition list, it never skews the cursor
    val all = commitsThrough(e)
    // A compaction commit rewrites rows this stream may have ALREADY
    // consumed as the source batches (same (topic, offset) rows — see
    // WalrusLog.compact). When every `replaces` id resolves to a commit
    // index below the stream's start, the stream has delivered all of its
    // content — skip it instead of re-delivering (the reference never
    // re-delivers: its cursors are byte positions over immutable blocks).
    // A compaction straddling the cursor (some sources unconsumed) is
    // still delivered whole: at commit granularity that's the lossless
    // side of the trade, and the partial overlap is documented.
    val slice = all.slice(s, e).filterNot { case (c, flagged) =>
      !flagged && c.replaces.exists(ids =>
        ids.nonEmpty && ids.forall { id =>
          val i = WalrusLogSource.commitIndexOfId(all, id)
          i >= 0 && i < s
        })
    }
    // Kafka failOnDataLoss parity (opt-in; default is the engine's
    // historical silent-skip): a commit this stream is ABOUT to deliver
    // but cannot — reclaimed by vacuum/retention and NOT re-readable
    // through a live compaction commit — raises instead of silently
    // yielding nothing. A manifest-truncated tombstone records no topics,
    // so it is conservatively loss (its rows are unknowable). Commits
    // whose every matching topic was pruned away never count.
    if (failOnDataLoss) {
      val coveredByCompaction = all.iterator.collect {
        case (c, false) => c.replaces.getOrElse(Nil) }.flatten.toSet
      val lost = slice.collect {
        case (c, true) if !coveredByCompaction(c.id) &&
          (c.topics.isEmpty || commitRows(c) > 0L) => c.id
      }
      if (lost.nonEmpty) throw new IllegalStateException(
        s"failOnDataLoss: commits ${lost.mkString(",")} were reclaimed " +
          "(vacuum/retention) before this stream consumed them — rows are " +
          "gone. Set failOnDataLoss=false to skip reclaimed ranges, or " +
          "retain data at least as long as the slowest consumer")
    }
    WalrusLogSource.partitionsFor(nsDir, slice, topic, required, prune)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WalrusReaderFactory(required)

  override def deserializeOffset(json: String): Offset = {
    implicit val f: Formats = DefaultFormats
    val parsed = JsonMethods.parse(json)
    (parsed \ "parts") match {
      case org.json4s.JArray(ps) =>
        val parts = ps.map { p =>
          (p \ "p").extract[Int] ->
            ((p \ "commitIdx").extract[Long], (p \ "row").extract[Long])
        }.toMap
        WalrusRealTimeOffset(parts, (parsed \ "n").extract[Int])
      case _ => CommitIndexOffset((parsed \ "commitIndex").extract[Long])
    }
  }

  override def commit(end: Offset): Unit = () // checkpoint log owns progress

  /** Names this stream's real-time partitions, so that its readers can
    * see that it was stopped. */
  private val streamId = java.util.UUID.randomUUID().toString
  @volatile private var tailing = false

  /** The query calls this before `StreamingQuery.stop()` returns, while
    * the kill of a tailing task is still on its way: readers in this JVM
    * load no commit after it (see [[WalrusRealTimeReader]]). */
  override def stop(): Unit =
    if (tailing) WalrusRealTimeReader.stoppedStreams.add(streamId)

  // ------------------------------------------------------ real-time mode
  // Trigger.RealTime (Spark 4.1): a batch runs for a fixed TIME budget
  // and each reader partition TAILS the commit log for that long — the
  // Spark-native analogue of the reference's long-lived per-bucket reader
  // loop (distributed-walrus/src/controller/mod.rs:199-268): data is
  // picked up the moment its commit file lands, not at the next trigger.
  // Topics are hash-assigned to a fixed set of reader partitions; a batch
  // may end MID-commit (the budget, not the data, bounds it), which is
  // why the merged end offset is row-granular per partition.

  override def prepareForRealTimeMode(): Unit = () // live tail: nothing to latch

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    WalrusRealTimeOffset(offsets.map {
      case o: WalrusRealTimePartitionOffset =>
        o.partitionId -> ((o.commitIdx, o.rowInCommit))
      case other => throw new IllegalArgumentException(s"unexpected $other")
    }.toMap, rtPartitions)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val startOf: Int => (Long, Long) = start match {
      case CommitIndexOffset(c) => _ => (c, 0L)
      case WalrusRealTimeOffset(m, n) =>
        // Fail fast on a partition-count change against an existing
        // checkpoint (the Kafka-source stance): row-granular skips are
        // only valid under the SAME topic→reader hash assignment.
        require(n == rtPartitions,
          s"realTimePartitions=$rtPartitions does not match the checkpointed " +
            s"reader partition count $n; restart with realTimePartitions=$n " +
            "or start a fresh checkpoint")
        i => m.getOrElse(i, (0L, 0L))
      case other => throw new IllegalArgumentException(s"unexpected $other")
    }
    tailing = true
    Array.tabulate[InputPartition](rtPartitions) { i =>
      val (c, r) = startOf(i)
      WalrusRealTimePartition(i, rtPartitions, nsDir.toString, topic, prune,
        c, r, failOnDataLoss, streamId)
    }
  }
}

/** Aggregate-pushdown result scan: the whole `Aggregate` was answered from
  * commit metadata on the driver (see the scan builder's `aggSpec`), so the
  * "scan" is one partition replaying precomputed rows — the 100 TB story
  * is that `SELECT topic, count(*) ... GROUP BY topic` over an arbitrarily
  * large log costs one manifest read and zero executor IO (the reference's
  * entry-count surface, walrus.rs:878-882, generalized to SQL). Output
  * schema follows the DSv2 contract: group-by columns first, then the
  * aggregate columns, in pushed order. */
class WalrusAggRowsScan(schema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(WalrusAggRowsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new WalrusAggRowsReaderFactory(schema)
  override def description(): String =
    s"WalrusAggRowsScan(metadata-answered aggregate, ${rows.size} rows)"
}

object WalrusAggRowsScan {
  /** Build the aggregate answer from the commit log: per-topic exact
    * counts/offset bounds over the LIVE (non-vacuumed, non-replaced)
    * commits, respecting the topic option, pushed topic pruning, and
    * `asOfCommit` time travel. Point-in-time semantics match the data
    * scan's snapshot argument (estimateStatistics' scaladoc). */
  def fromMetadata(nsDir: Path, options: CaseInsensitiveStringMap,
      prune: WalrusLogSource.PruneSpec, byTopic: Boolean,
      cols: Seq[String],
      commitsProvider: Option[() => Vector[(CommitRecord, Boolean)]] = None)
      : WalrusAggRowsScan = {
    val spec = prune.withTopic(Option(options.get("topic")))
    val all = commitsProvider.map(_())
      .getOrElse(WalrusLogSource.listCommits(nsDir))
    // both time-travel spellings apply to the metadata answer too — an
    // ignored as-of option here would silently aggregate the full log
    val asOf = Option(options.get("asOfCommit")).map(_.toLong).orElse(
      Option(options.get("asOfTimestampMs")).map(_.toLong).map { ms =>
        val id = all.iterator.map(_._1)
          .filter(_.tsMillis <= ms).foldLeft(-1L)((m, c) => math.max(m, c.id))
        require(id >= 0,
          s"no commit published at or before timestamp $ms ms in $nsDir")
        id
      })
    // the batch publish-time window options (Kafka starting/ending
    // timestamp parity — see WalrusLogScan) bound the metadata answer
    // exactly like the data scan they sugar over
    val startMs = Option(options.get("startingTimestampMs")).map(_.toLong)
    val endMs = Option(options.get("endingTimestampMs")).map(_.toLong)
    val live = all.iterator
      .filter { case (c, flagged) => !flagged && asOf.forall(c.id <= _) &&
        startMs.forall(c.tsMillis >= _) && endMs.forall(c.tsMillis < _) }
      .map(_._1)
    // count, minOffset, maxOffset, minTsUs, maxTsUs
    val perTopic = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Long, Long)]
    live.foreach { c =>
      c.topics.foreach { case (t, r) =>
        if (spec.topicMatches(t)) {
          val (n, lo, hi, tlo, thi) = perTopic.getOrElse(t,
            (0L, Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue))
          perTopic(t) = (n + r.rows, math.min(lo, r.start),
            math.max(hi, r.end - 1), math.min(tlo, r.tsUsMin), math.max(thi, r.tsUsMax))
        }
      }
    }
    def aggVals(n: Long, lo: Long, hi: Long, tlo: Long, thi: Long): Seq[Any] =
      cols.map {
        case "count" => java.lang.Long.valueOf(n)
        case "min_offset" => if (n == 0L) null else java.lang.Long.valueOf(lo)
        case "max_offset" => if (n == 0L) null else java.lang.Long.valueOf(hi)
        case "min_ts" => if (n == 0L) null else java.lang.Long.valueOf(tlo)
        case "max_ts" => if (n == 0L) null else java.lang.Long.valueOf(thi)
      }
    val rows: Seq[Seq[Any]] =
      if (byTopic) perTopic.toSeq.sortBy(_._1).map { case (t, (n, lo, hi, tlo, thi)) =>
        t +: aggVals(n, lo, hi, tlo, thi)
      }
      else {
        val n = perTopic.valuesIterator.map(_._1).sum
        val lo = if (perTopic.isEmpty) 0L else perTopic.valuesIterator.map(_._2).min
        val hi = if (perTopic.isEmpty) 0L else perTopic.valuesIterator.map(_._3).max
        val tlo = if (perTopic.isEmpty) 0L else perTopic.valuesIterator.map(_._4).min
        val thi = if (perTopic.isEmpty) 0L else perTopic.valuesIterator.map(_._5).max
        Seq(aggVals(n, lo, hi, tlo, thi)) // global aggregate: exactly one row
      }
    val aggFields = cols.zipWithIndex.map { case (c, i) =>
      StructField(s"agg_$i" + "_" + c, LongType, nullable = c != "count")
    }
    val schema = StructType(
      (if (byTopic) Seq(StructField("topic", StringType, nullable = false)) else Nil)
        ++ aggFields)
    new WalrusAggRowsScan(schema, rows)
  }
}

case class WalrusAggRowsPartition(rows: Seq[Seq[Any]]) extends InputPartition

class WalrusAggRowsReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[WalrusAggRowsPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: Seq[Any] = null
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          cur.zip(schema.fields).map {
            case (null, _) => null
            case (s: String, f) if f.dataType == StringType => UTF8String.fromString(s)
            case (v, _) => v.asInstanceOf[AnyRef]
          }.toArray[Any])
      override def close(): Unit = ()
    }
  }
}

/** One data file of a [[WalrusFilePartition]]: its topic (the `topic`
  * constant), the commit that published it (its `_commit` constant) and
  * the batch capacity it opens with. */
case class WalrusFile(path: String, topic: String, commitId: Long, capacity: Int)

/** Data files read in order (see [[WalrusLogSource.pack]]). */
case class WalrusFilePartition(files: Seq[WalrusFile]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Storage-partitioned execution: when the scan reports key-grouped
    * partitioning every partition holds one topic and carries it as its
    * partition key, so Spark (with `spark.sql.sources.v2.bucketing.enabled`)
    * groups splits per topic and per-topic aggregations/joins run WITHOUT
    * a shuffle — the log's directory layout IS a bucketed table on
    * `topic`. */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(files.head.topic)))
}

/** One real-time tail reader's assignment: its id in the fixed reader set,
  * the namespace to tail, and its row-granular resume point. */
case class WalrusRealTimePartition(
    partitionId: Int, numPartitions: Int, nsDirStr: String,
    topic: Option[String], prune: WalrusLogSource.PruneSpec,
    startCommitIdx: Long, startRowInCommit: Long,
    failOnDataLoss: Boolean = false, streamId: String = "") extends InputPartition

/** Reads the data files of one partition, in order. File columns
  * are a subset of (offset, ts_us, value, checksum, len); `topic` and
  * `_commit` come from the file's topic and commit, both appended
  * per file as constant partition columns by the vectorized reader.
  * Pruned column sets stream straight from parquet pages into
  * `ColumnarBatch`es; only a topic-only/empty projection (e.g. count(*))
  * falls back to a row reader driven by footer row counts. */
class WalrusReaderFactory(schema: StructType) extends PartitionReaderFactory {
  // partition-level CONSTANT columns: the topic directory name and the
  // `_commit` metadata column (one commit per batch dir) — both filled by
  // the vectorized reader's partition-column mechanism, zero IO
  private val ConstNames = Set("topic", "_commit")
  private val constCols = schema.fields.filter(f => ConstNames(f.name))
  private val fileSchema = StructType(schema.fields.filterNot(f => ConstNames(f.name)))

  private def constRow(f: WalrusFile): InternalRow =
    new GenericInternalRow(constCols.map {
      case c if c.name == "topic" => UTF8String.fromString(f.topic)
      case _ => java.lang.Long.valueOf(f.commitId)
    }.toArray[Any])

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.isInstanceOf[WalrusFilePartition] && fileSchema.nonEmpty

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[WalrusFilePartition]
    new PartitionReader[ColumnarBatch] {
      private val files = p.files.iterator
      private var reader: VectorizedParquetRecordReader = null
      private def open(f: WalrusFile): VectorizedParquetRecordReader = {
        val r = graft.io.LogParquet.openColumnar(f.path, fileSchema, f.capacity)
        var ok = false
        try {
          r.initBatch(StructType(constCols.toSeq), constRow(f))
          r.enableReturningBatches()
          ok = true
        } finally if (!ok) r.close()
        r
      }
      override def next(): Boolean = {
        while (reader == null || !reader.nextKeyValue()) {
          close()
          if (!files.hasNext) return false
          reader = open(files.next())
        }
        true
      }
      override def get(): ColumnarBatch =
        reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      override def close(): Unit = if (reader != null) { reader.close(); reader = null }
    }
  }

  /** Row fallback for projections with no file columns: emit each file's
    * footer row count of constant rows (topic, `_commit`, or empty).
    * Real-time partitions get the tailing reader instead. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case rt: WalrusRealTimePartition => new WalrusRealTimeReader(rt, schema)
    case _ => createCountingReader(partition)
  }

  private def createCountingReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalrusFilePartition]
    new PartitionReader[InternalRow] {
      private val files = p.files.iterator
      private var remaining = 0L
      private var row: InternalRow = null
      override def next(): Boolean = {
        while (remaining <= 0) {
          if (!files.hasNext) return false
          val f = files.next()
          remaining = graft.io.LogParquet.rowCount(f.path)
          row = constRow(f)
        }
        remaining -= 1
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Real-time tail reader: emits its partition's slice of every commit from
  * the resume point onward, then POLLS the commit dir until the batch's
  * time budget expires — data is picked up the moment its commit file
  * lands (the reference's long-lived reader loop, vs the micro-batch
  * path's plan-per-trigger). The engine stops asking for records once the
  * budget is spent and checkpoints [[getOffset]], which is row-granular
  * because the budget can expire mid-commit.
  *
  * Single-threaded like every PartitionReader; files of one commit slice
  * are read in the stable (topic dir, file name) order that makes
  * row-granular offsets replayable. Poll cadence 5 ms, each poll a probe
  * for the next commit id (commit JSONs parse incrementally) — the
  * latency floor of the tail, far below any achievable trigger cadence. */
class WalrusRealTimeReader(p: WalrusRealTimePartition, schema: StructType)
    extends PartitionReader[InternalRow] with SupportsRealTimeRead[InternalRow] {
  require(!schema.fieldNames.contains("_commit"),
    "_commit metadata column is a batch/micro-batch feature; " +
      "not supported under Trigger.RealTime")
  import SupportsRealTimeRead.RecordStatus

  private val nsDir = Paths.get(p.nsDirStr)
  private val fileSchema = StructType(schema.fields.filter(_.name != "topic"))
  private val hasTopic = schema.fieldNames.contains("topic")

  private val tail = new WalrusLogSource.CommitTail(nsDir, WalrusLogSource.listCommits)
  private var commits = tail.refresh()
  private var commitIdx: Long = p.startCommitIdx // position in the ordered commit log
  private var rowInCommit: Long = 0L             // slice rows consumed (emitted + skipped)
  private var toSkip: Long = p.startRowInCommit  // resume skip within the first commit
  private var files: List[(String, String, Int)] = Nil
  private var sliceLoaded = false
  private var reader: VectorizedParquetRecordReader = null
  private var constRowsLeft: Long = 0L           // topic-only/empty projection mode
  private var constRow: InternalRow = null
  private var current: InternalRow = null

  /** Incremental tail refresh: probe past the newest loaded commit and
    * parse only what it finds (see [[WalrusLogSource.CommitTail]]). (A
    * concurrent vacuum rewrites an OLD commit's flag in place; the tail
    * reader is past it by definition — the same exposure as the batch
    * planner.) */
  private def refreshCommits(): Unit = commits = tail.refresh()

  private lazy val lossSpec = p.prune.withTopic(p.topic)

  /** Rows commit `c` would deliver to THIS stream's topic/prune view. */
  private def lossViewRows(c: CommitRecord): Long =
    c.topics.iterator.collect {
      case (t, r) if lossSpec.topicMatches(t) => r.rows
    }.sum

  /** failOnDataLoss for the real-time tail (the micro-batch source's
    * promise at latestOffset, extended here — VERDICT r10 #3; the
    * reference's readers never silently skip data either, they stop at
    * zeroed headers, src/wal/block.rs:86-93): commit `c` is positioned
    * for delivery but its data is gone. Raise unless a LIVE compaction
    * commit re-delivers its rows later in the log (the micro-batch rule),
    * or the stream's view of it was empty anyway. Refreshes the tail
    * first: the covering compaction may be newer than the cache. */
  private def raiseIfLost(c: CommitRecord): Unit = {
    refreshCommits()
    val covered = commits.exists { case (cc, flagged) =>
      !flagged && cc.replaces.exists(_.contains(c.id)) }
    if (!covered && (c.topics.isEmpty || lossViewRows(c) > 0L))
      throw new IllegalStateException(
        s"failOnDataLoss: commit ${c.id} was reclaimed (vacuum/retention) " +
          "before this real-time stream consumed it — rows are gone. Set " +
          "failOnDataLoss=false to skip reclaimed ranges, or retain data " +
          "at least as long as the slowest consumer")
  }

  /** Stops the reader of a killed task or of a stopped stream: after
    * `q.stop()` it must not tail on and hand a later commit's rows to the
    * sink. `stop()` returns before the kill reaches the task, so the
    * stream's own stop flag covers that window in the driver's JVM.
    * Throws `TaskKilledException`. */
  private def stopIfKilled(): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null && tc.isInterrupted())
      throw new org.apache.spark.TaskKilledException("walruslog real-time reader: task killed")
    if (WalrusRealTimeReader.stoppedStreams.contains(p.streamId))
      throw new org.apache.spark.TaskKilledException("walruslog real-time reader: stream stopped")
  }

  /** Load the file slice of commit `commitIdx`, refreshing the commit log
    * when the index is past the cached view. False = commit not yet
    * published. */
  private def ensureSlice(): Boolean = {
    if (sliceLoaded) return true
    if (commitIdx >= commits.size) {
      refreshCommits()
      if (commitIdx >= commits.size) return false
    }
    stopIfKilled()
    val (c, vacuumed) = commits(commitIdx.toInt)
    if (vacuumed) {
      if (p.failOnDataLoss) raiseIfLost(c)
      files = Nil
    } else {
      files = WalrusLogSource.sliceFiles(nsDir, c, p.topic, p.prune,
        p.partitionId, p.numPartitions).toList
      // a vacuum that raced the cached listing leaves a stale live flag:
      // the loss signature is "metadata says our view has rows, but the
      // whole batch dir is gone" (a pruned-away topic or an empty slice
      // of a live dir is NOT loss — the dir still exists then)
      if (files.isEmpty && p.failOnDataLoss && lossViewRows(c) > 0L &&
          !Files.exists(nsDir.resolve("data").resolve(s"batch=${c.id}")))
        raiseIfLost(c)
    }
    sliceLoaded = true
    true
  }

  private def closeReader(): Unit =
    if (reader != null) { reader.close(); reader = null }

  private def openNextFile(): Boolean = {
    closeReader()
    files match {
      case (t, f, capacity) :: rest =>
        files = rest
        if (fileSchema.nonEmpty) {
          val r = graft.io.LogParquet.openColumnar(f, fileSchema, capacity)
          var ok = false
          try {
            if (hasTopic)
              r.initBatch(StructType(Seq(StructField("topic", StringType))),
                new GenericInternalRow(Array[Any](UTF8String.fromString(t))))
            else r.initBatch(new StructType(), InternalRow.empty)
            ok = true
          } finally if (!ok) r.close()
          reader = r
        } else {
          constRowsLeft = graft.io.LogParquet.rowCount(f)
          constRow =
            if (hasTopic) new GenericInternalRow(Array[Any](UTF8String.fromString(t)))
            else InternalRow.empty
        }
        true
      case Nil => false
    }
  }

  /** Next row of the current slice into `current`; false = slice done. */
  private def advance(): Boolean = {
    while (true) {
      if (reader != null) {
        if (reader.nextKeyValue()) {
          current = reader.getCurrentValue.asInstanceOf[InternalRow]
          return true
        }
        closeReader()
      } else if (constRowsLeft > 0) {
        constRowsLeft -= 1
        current = constRow
        return true
      }
      if (!openNextFile()) return false
    }
    false // unreachable
  }

  override def nextWithTimeout(deadlineMs: java.lang.Long): RecordStatus = {
    while (true) {
      stopIfKilled()
      if (ensureSlice()) {
        var produced = advance()
        while (produced && toSkip > 0) { // exactly-once resume mid-commit
          toSkip -= 1; rowInCommit += 1; produced = advance()
        }
        if (produced) {
          rowInCommit += 1
          return RecordStatus.newStatusWithArrivalTimeMs(System.currentTimeMillis())
        }
        commitIdx += 1; rowInCommit = 0L; toSkip = 0L; sliceLoaded = false
      } else {
        val now = System.currentTimeMillis()
        if (now >= deadlineMs) return RecordStatus.newStatusWithoutArrivalTime(false)
        try Thread.sleep(math.max(1L, math.min(5L, deadlineMs - now)))
        catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            return RecordStatus.newStatusWithoutArrivalTime(false)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def getOffset: PartitionOffset =
    WalrusRealTimePartitionOffset(p.partitionId, commitIdx, rowInCommit)

  override def next(): Boolean =
    throw new UnsupportedOperationException(
      "real-time reader is driven via nextWithTimeout")
  override def get(): InternalRow = current
  override def close(): Unit = closeReader()
}

object WalrusRealTimeReader {
  /** Ids of stopped real-time streams, one short string per stopped
    * query that tailed. */
  private[sources] val stoppedStreams = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
