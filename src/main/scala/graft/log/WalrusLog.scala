package graft.log

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats, JBool, JLong, JObject, JString}
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.sources.{WalrusLogSource, WalrusReaderFactory}

/** Spark-native topic log with the semantics of the reference engine's
  * write-ahead log (reference: src/lib.rs:1-14): durable append/read of
  * opaque byte entries to named topics, atomic batch appends, persistent
  * consumer cursors with configurable delivery semantics, offset- and
  * byte-addressed stateless reads, entry counts, segment accounting with
  * rollover, crash recovery, and space reclamation.
  *
  * Architecture (deliberately NOT a port — see SURVEY.md §7):
  *  - Entries live in partitioned Parquet under
  *    `<root>/<namespace>/data/batch=<id>/topic=<t>/`, written offset-sorted
  *    so Parquet min/max stats prune offset-range reads.
  *  - A batch becomes visible only when `commits/<id>.json` is atomically
  *    renamed into place — this single mechanism replaces the reference's
  *    fsync-then-publish ordering (src/wal/runtime/writer.rs:135-341) and
  *    zeroed-header rollback invisibility (src/wal/block.rs:135-146):
  *    uncommitted files are simply never referenced.
  *  - Per-topic dense offsets are assigned with a two-phase
  *    range-partition + per-partition prefix-sum pass (no per-topic single
  *    task, one shuffle, shuffle reuse between phases) — the driver is the
  *    single sequencing point, replacing Raft-replicated metadata
  *    (distributed-walrus/src/metadata.rs:10-31).
  *  - Consumer cursors are a `(group, topic) -> offset` map persisted by
  *    temp-file+rename (src/wal/runtime/index.rs:70-83); the reference's
  *    shared per-topic cursor is group `""`.
  */
class WalrusLog(
    val spark: SparkSession,
    val root: String,
    val namespace: String = "default",
    val consistency: ReadConsistency = ReadConsistency.StrictlyAtOnce,
    val cfg: LogConfig = LogConfig(),
    virtualNodes: Seq[String] = Seq("driver")) {

  import WalrusLog._
  private implicit val formats: Formats = DefaultFormats

  private val nsDir: Path = Paths.get(root, sanitizeKey(namespace))
  private val dataDir: Path = nsDir.resolve("data")
  private val commitsDir: Path = nsDir.resolve("commits")
  private val manifestsDir: Path = nsDir.resolve("manifests")
  private val cursorsPath: Path = nsDir.resolve("cursors.json")
  private val cleanPath: Path = nsDir.resolve("topic_clean.json")
  private val producersPath: Path = nsDir.resolve("producers.json")

  Files.createDirectories(dataDir)
  Files.createDirectories(commitsDir)

  // Persist the reader-relevant config bit so path-opened DSv2 scans and
  // streams compute decoded width (payload + per-entry overhead) with
  // THIS namespace's convention instead of the compile-time default
  // (ADVICE r10: statistics and maxBytesPerTrigger pacing diverged for
  // logs built with a custom metaOverheadBytes). It feeds width
  // ESTIMATES, not correctness — last-writer-wins across concurrent
  // opens with differing configs is acceptable and matches the cfg the
  // most recent writer is actually producing entries under.
  locally {
    val p = nsDir.resolve("config.json")
    val json = Serialization.write(
      Map("metaOverheadBytes" -> cfg.metaOverheadBytes))
    val cur =
      if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8") else ""
    if (cur != json) writeAtomic(p, json)
  }

  // ---- in-memory state (rebuilt from disk on open; see recover()) ----
  private val topics = mutable.LinkedHashMap.empty[String, TopicState]
  /** Topics THIS instance explicitly unregistered, with the tombstone
    * generation each drop recorded (last live generation + 1, so the drop
    * outranks every marker the topic ever persisted while live — see
    * [[persistClean]]'s merge and [[unregisterTopic]]). */
  private val unregistered = mutable.Map.empty[String, Long]
  private val commits = mutable.ArrayBuffer.empty[CommitRecord]
  private val vacuumed = mutable.Set.empty[Long]
  private val replaced = mutable.Set.empty[Long] // batches rewritten by compaction
  /** The catalog as reads see it: every change to the visible commits or
    * to a topic's next offset, made under the monitor, publishes a new
    * immutable [[CatalogView]] here in one write, so a read resolves its
    * window from one consistent view and never takes the monitor (the
    * reference's reads snapshot the writer's state the same way,
    * walrus_read.rs:391-405). The mutable catalog above stays the
    * monitor's working state. */
  @volatile private var view: CatalogView = CatalogView.Empty

  private def isVisible(c: CommitRecord): Boolean =
    c.id >= 0 && !vacuumed.contains(c.id) && !replaced.contains(c.id)

  /** Visible commits in commit order (the monitor's and [[toDF]]'s view). */
  private def visibleCommits: Vector[CommitRecord] = view.visible

  /** Retried reads: a read whose covering commit left the view while it
    * read (see [[readRange]]). */
  private[log] val readRetries = new java.util.concurrent.atomic.AtomicLong
  // Dropped-commit accounting (the manifest is the Raft snapshot-truncates-
  // the-log analogue, reference: distributed-walrus/src/metadata.rs:
  // 115-189): fully-reclaimed commits leave `commits` at manifest-write
  // time; these scalars/maps preserve what replaying them would have
  // contributed (total counts for METRICS, epoch tags for sink
  // idempotence, the id high-water mark for the JSON-tail boundary).
  private var maxPublishedId: Long = -1L
  private var publishedCount: Long = 0L
  private var droppedVacuumedCount: Long = 0L
  /** Epoch-idempotence tags of commits dropped from the manifest, BOUNDED:
    * a sink restart can only replay the NEWEST epoch of a query (every
    * older epoch is behind the sink's own checkpoint, so the engine never
    * re-offers it), so per tag family (`<base>-<n>`, the shape both sink
    * paths emit) only the highest-n tag needs replay protection — one map
    * entry per DISTINCT SINK QUERY, not per dropped commit. Tags without a
    * numeric suffix (manual tagged appends) are kept verbatim in the
    * irregular map, which grows with hand-tagged drops and is bounded by
    * [[LogConfig.maxIrregularDroppedTags]] (oldest-dropped evicted). */
  private val droppedTagFamilies = mutable.Map.empty[String, (Long, Long)] // base -> (n, commitId)
  private val droppedIrregularTags = mutable.Map.empty[String, Long] // tag -> commitId

  /** Split `<base>-<digits>` tags into their family key + epoch number —
    * ONLY for the tag shapes the sink paths themselves emit
    * (`v1sink-<ckptId>-<batchId>`, `stream-epoch-<ckptId>-<epochId>`). The
    * "only the newest epoch can replay" collapse argument holds exactly
    * for sink epochs (older epochs sit behind the sink's own checkpoint);
    * a HAND-tagged append (`job-1`) has no such ordering, so collapsing
    * it would let a replay of an older manual tag re-commit reclaimed
    * rows as fresh data (ADVICE r8) — those stay verbatim. */
  private def tagFamily(tag: String): Option[(String, Long)] = {
    val i = tag.lastIndexOf('-')
    if (i <= 0 || i == tag.length - 1) None
    else {
      val base = tag.substring(0, i)
      if (base.startsWith("v1sink-") || base.startsWith("stream-epoch-"))
        tag.substring(i + 1).toLongOption.map(n => (base, n))
      else None
    }
  }

  private def recordDroppedTag(tag: String, commitId: Long): Unit =
    tagFamily(tag) match {
      case Some((base, n)) =>
        val keep = droppedTagFamilies.get(base).forall(_._1 <= n)
        if (keep) droppedTagFamilies(base) = (n, commitId)
      case None =>
        droppedIrregularTags(tag) = commitId
        // bound the verbatim map (and with it every manifest): evict the
        // oldest-dropped tags past the cap — see
        // LogConfig.maxIrregularDroppedTags for the replay-window argument
        val cap = cfg.maxIrregularDroppedTags
        if (cap > 0 && droppedIrregularTags.size > cap) {
          // amortized batch eviction: drop down to 90% of cap in ONE
          // pass, so a workload sitting at the cap pays the full-map
          // sort once per ~cap/10 tagged drops, not per drop (ADVICE
          // r10: per-drop sort was O(cap log cap) each). Evicting a
          // little below the cap stays inside the same replay-window
          // argument — the cap is a bound on retained history, and the
          // extra evictees are by definition the OLDEST-dropped tags.
          val target = math.max(1, cap - cap / 10)
          val evict = droppedIrregularTags.toSeq.sortBy(_._2)
            .take(droppedIrregularTags.size - target)
          evict.foreach { case (t, _) => droppedIrregularTags.remove(t) }
        }
    }

  private def droppedTagCommitId(tag: String): Option[Long] =
    tagFamily(tag) match {
      case Some((base, n)) =>
        droppedTagFamilies.get(base).collect { case (m, id) if m == n => id }
      case None => droppedIrregularTags.get(tag)
    }

  /** Serialized dropped-tag map (full tag -> commit id) for the manifest. */
  private def droppedTagsSnapshot: Map[String, Long] =
    droppedTagFamilies.map { case (base, (n, id)) => s"$base-$n" -> id }.toMap ++
      droppedIrregularTags
  private var nextBatchId: Long = 0L
  /** Set by [[recover]] when another writer's claim may be in its
    * claim → publish gap; cleared by the first commit's resync. */
  private var claimGapPending = false
  /** Claims found at open that stayed unpublished through that first
    * resync's wait: their writer crashed mid-commit (this writer's own
    * earlier run, say), so no later resync waits for them again. */
  private val abandonedClaims = mutable.Set.empty[Long]
  /** Serializes cursor moves. Taken BEFORE the monitor, never inside it: a
    * StrictlyAtOnce read holds it across read, verify and cursor persist;
    * [[seek]] (the only backward move) holds it and the monitor. */
  private val cursorLock = new Object
  /** `(group, topic) -> next offset`, republished whole on every move, so
    * unlocked readers (and [[vacuum]] under the monitor) read a snapshot. */
  @volatile private var cursors = Map.empty[(String, String), Long]
  private val unpersistedReads = mutable.Map.empty[(String, String), Long] // under cursorLock
  private val producerSeq = mutable.Map.empty[String, Long]
  private val isBatchWriting = new AtomicBoolean(false)
  private var sinceManifest: Int = 0 // commits applied since the last manifest

  recover()

  /** Session the ingest write runs on. With concurrent writers enabled,
    * a clone (built once per log) carries the write-strategy confs so
    * they never leak into queries planned on the caller's session. */
  private lazy val writeSession: SparkSession =
    if (cfg.concurrentWriters > 0) {
      val s = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
      s.conf.set("spark.sql.maxConcurrentOutputFileWriters",
        cfg.concurrentWriters.toString)
      s.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
      s
    } else spark

  /** Session the small-commit path plans on: AQE off (see
    * [[appendSmallCommit]] — keeps the commit to a single Spark job). */
  private lazy val smallCommitSession: SparkSession = {
    val s = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  // =========================================================================
  // Write path (reference: src/wal/runtime/walrus_write.rs:4-18, writer.rs)
  // =========================================================================

  /** Append a single entry (reference: `append_for_topic`,
    * src/wal/runtime/walrus_write.rs:4-10) as one commit written on the
    * driver, with no Spark job (see [[appendOnDriver]]). For
    * high-throughput ingest use [[appendDF]]; this is the API-parity form. */
  def append(topic: String, value: Array[Byte]): Unit =
    appendLocal(Seq(topic -> value), enforceCaps = false)

  /** Atomic all-or-nothing batch append to one topic (reference:
    * `batch_append_for_topic`, src/wal/runtime/walrus_write.rs:12-18).
    * Enforces the reference's caps (≤ `maxBatchEntries` entries,
    * ≤ `maxBatchBytes` payload; src/wal/config.rs:42-43) and rejects a
    * concurrent batch with [[WouldBlockException]]
    * (reference: writer.rs:135-165). The batch is one commit written on
    * the driver, with no Spark job (see [[appendOnDriver]]). */
  def batchAppend(topic: String, batch: Seq[Array[Byte]]): Unit = {
    if (!isBatchWriting.compareAndSet(false, true))
      throw new WouldBlockException("another batch append is in progress")
    try appendLocal(batch.map(topic -> _), enforceCaps = true)
    finally isBatchWriting.set(false)
  }

  /** Caps check, then one driver-side commit of entries that are already
    * in driver memory (`append`, `batchAppend`, the shim's PUT). */
  private def appendLocal(entries: Seq[(String, Array[Byte])], enforceCaps: Boolean): Unit = {
    if (entries.isEmpty) return
    if (enforceCaps) {
      require(entries.size <= cfg.maxBatchEntries,
        s"batch of ${entries.size} entries exceeds cap ${cfg.maxBatchEntries}")
      val bytes = entries.iterator.map(_._2.length.toLong).sum
      require(bytes <= cfg.maxBatchBytes,
        s"batch of $bytes payload bytes exceeds cap ${cfg.maxBatchBytes}")
    }
    appendOnDriver(entries)
  }

  /** Commit driver-resident entries without a Spark job. Offsets, stats
    * and the data files are all produced on the calling thread: entries
    * group by topic in input order, offsets continue from the catalog's
    * `nextOffset`, and each topic's rows go to one Parquet file written by
    * Spark's own Parquet writer into the same `topic=<escaped>` layout a
    * `partitionBy` write produces. The commit protocol is the one every
    * ingest path shares: stage dir, rename claim, then [[publishCommit]]. */
  private def appendOnDriver(entries: Seq[(String, Array[Byte])]): CommitRecord = {
    val ingestTs = System.currentTimeMillis()
    val tsUs = ingestTs * 1000L
    val byTopic = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]]
    entries.foreach { case (t, v) =>
      byTopic.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += v
    }
    synchronized {
      withCollisionRetry {
        val bases = byTopic.keys.map(t =>
          t -> topics.get(t).map(_.nextOffset).getOrElse(0L)).toMap
        val id = nextBatchId
        claimBatchDir(id) { d =>
          entryFileWriter.write(byTopic.map { case (t, vs) =>
            val dir = d.resolve(org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.getPartitionPathString("topic", t))
            dir.toString -> vs.iterator.zipWithIndex.map { case (v, i) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](bases(t) + i, tsUs, v,
                  graft.functions.Fnv1a64.hash(v), v.length))
            }
          })
        }
        val ranges = byTopic.map { case (t, vs) =>
          t -> TopicRange(bases(t), bases(t) + vs.size,
            vs.iterator.map(_.length.toLong).sum, tsUs, tsUs, vs.size.toLong)
        }.toMap
        publishCommit(CommitRecord(id, ingestTs, ranges))
      }
    }
  }

  /** Bulk ingest: append every row of `input` (columns `topic: STRING`,
    * `value: BINARY`) as one atomically visible batch.
    *
    * Two scale paths, both assigning dense per-topic offsets with the
    * driver as the only sequencing point (a few KB of per-partition counts;
    * replaces the reference's Raft'd `TopicState`):
    *  - `seqCol` given: per-topic order follows it globally — one
    *    `repartitionByRange(topic, seq)` shuffle, then a count pass and an
    *    offset-assignment pass that share the shuffle files. No per-topic
    *    single task; a hot topic spreads over many range partitions.
    *  - `arrivalOrder = true`: per-topic order is the input's (partition,
    *    position) order — the reference's arrival-order contract — and NO
    *    shuffle happens: the input is pinned by a lazy local checkpoint
    *    (both passes must see one row order) and scanned in place. Each task writes a
    *    file per topic it sees, so this trades shuffle IO for file count —
    *    measured locally the shuffle path wins (≈1.4 s vs ≈3.0 s at 1M
    *    rows × 10 interleaved topics) because per-file costs dominate;
    *    prefer arrival order only when inputs are already topic-clustered
    *    or the shuffle genuinely can't fit.
    */
  def appendDF(
      input: DataFrame,
      seqCol: Option[org.apache.spark.sql.Column] = None,
      ingestTs: Timestamp = new Timestamp(System.currentTimeMillis()),
      tag: Option[String] = None,
      arrivalOrder: Boolean = false): CommitRecord =
    synchronized {
      // Losing a commit race against another live writer resyncs this
      // instance from disk and re-runs the attempt (bounded; see
      // LogConfig.commitCollisionRetries) — offsets re-sequence from the
      // resynced state, so both writers' batches land durably.
      withCollisionRetry(appendDFAttempt(input, seqCol, ingestTs, tag, arrivalOrder))
    }

  private def appendDFAttempt(
      input: DataFrame,
      seqCol: Option[org.apache.spark.sql.Column],
      ingestTs: Timestamp,
      tag: Option[String],
      arrivalOrder: Boolean): CommitRecord =
    {
      // Idempotence for streaming-sink epoch retries: a commit tagged with
      // an already-committed tag is a no-op (exactly-once foreachBatch).
      tag.foreach { t =>
        commits.find(_.tag.contains(t)).foreach { existing => return existing }
        // a reclaimed epoch's tag survives the manifest drop (bounded
        // dropped-tag maps): a sink replaying an epoch whose data was
        // already vacuumed must still be a no-op, not a re-commit
        droppedTagCommitId(t).foreach { id =>
          return CommitRecord(id, 0L, Map.empty, Some(t))
        }
      }
      // Small commits collapse to ONE Spark job (see appendSmallCommit).
      // Size comes from Catalyst's plan statistics; unknown stats default
      // to Long.MaxValue, which conservatively keeps the range path.
      if (!arrivalOrder) {
        val est: BigInt =
          try input.queryExecution.optimizedPlan.stats.sizeInBytes
          catch { case _: Throwable => BigInt(Long.MaxValue) }
        if (est <= cfg.smallCommitMaxBytes)
          return appendSmallCommit(input,
            seqCol.getOrElse(monotonically_increasing_id()), ingestTs, tag,
            est.toLong)
      }
      val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
      // Tungsten rows end-to-end — no external-Row conversion on either
      // pass; the RDD instance is shared so the second pass reuses the
      // first's shuffle files / cached blocks.
      var pinned: Option[org.apache.spark.rdd.RDD[_]] = None
      val rows =
        if (arrivalOrder) {
          // Both passes must observe the SAME partition-internal row order.
          // Narrow plans over order-stable leaves (file scans, disk-backed
          // caches, local relations) recompute in that same order; anything
          // with a shuffle in the lineage could recompute in fetch-arrival
          // order and silently corrupt offsets — pin those with an RDD
          // local checkpoint (losing its blocks fails the job: fail-stop
          // beats wrong offsets). Materializes during phase 1; released
          // after commit.
          val base = input.select(
            col("topic").cast(StringType).as("topic"),
            col("value").cast(BinaryType).as("value"))
          val raw = org.apache.spark.sql.graft.GraftSqlInternal.toInternalRdd(base)
          if (org.apache.spark.sql.graft.GraftSqlInternal.isOrderStable(base)) raw
          else {
            val c = raw.map(_.copy()) // detach reused UnsafeRow buffers
            c.localCheckpoint()
            pinned = Some(c)
            c
          }
        } else {
          val seq = seqCol.getOrElse(monotonically_increasing_id())
          val base = input.select(
            col("topic").cast(StringType).as("topic"),
            col("value").cast(BinaryType).as("value"),
            seq.cast(LongType).as("_seq"))
          val shuffled = base
            .repartitionByRange(parts, col("topic"), col("_seq"))
            .sortWithinPartitions("topic", "_seq")
          org.apache.spark.sql.graft.GraftSqlInternal.toInternalRdd(shuffled)
        }
      try {
      // Phase 1: per-(partition, topic) counts and payload bytes (tiny
      // result). getUTF8String on the binary column wraps bytes without
      // copying — numBytes is the payload length.
      val stats: Array[(Int, Seq[(String, Long, Long)])] =
        rows.mapPartitionsWithIndex { (pid, it) =>
          val acc = mutable.LinkedHashMap.empty[String, (Long, Long)]
          it.foreach { r =>
            val t = r.getUTF8String(0).toString
            val len = r.getUTF8String(1).numBytes().toLong
            val (c, b) = acc.getOrElse(t, (0L, 0L))
            acc(t) = (c + 1, b + len)
          }
          Iterator.single((pid, acc.iterator.map { case (t, (c, b)) => (t, c, b) }.toSeq))
        }.collect()

      val perTopicTotal = mutable.LinkedHashMap.empty[String, (Long, Long)] // count, bytes
      stats.sortBy(_._1).foreach { case (_, ts) =>
        ts.foreach { case (t, c, b) =>
          val (pc, pb) = perTopicTotal.getOrElse(t, (0L, 0L))
          perTopicTotal(t) = (pc + c, pb + b)
        }
      }
      if (perTopicTotal.isEmpty) {
        return CommitRecord(-1L, ingestTs.getTime, Map.empty)
      }

      // Driver-side sequencing: base offsets from the catalog, then prefix
      // sums across partitions in partition-index order.
      val baseOffsets = perTopicTotal.keys.map(t => t -> state(t).nextOffset).toMap
      val running = mutable.Map.empty[String, Long] ++= baseOffsets
      val startFor = mutable.Map.empty[(Int, String), Long]
      stats.sortBy(_._1).foreach { case (pid, ts) =>
        ts.foreach { case (t, c, _) =>
          startFor((pid, t)) = running(t)
          running(t) += c
        }
      }
      val bc = spark.sparkContext.broadcast(startFor.toMap)

      // Phase 2: assign offsets (order within partition is the sorted order)
      // and compute checksum/len inline — one fused pass, no downstream
      // projection. Ingest time is stored as epoch micros (LongType) so the
      // streaming source's plain parquet readers never meet INT96; toDF()
      // converts.
      val tsUs = ingestTs.getTime * 1000L
      val entryRows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
        rows.mapPartitionsWithIndex { (pid, it) =>
          // Offsets continue where the topic left off when rows interleave
          // topics (arrival-order path); the clustered shuffle path only
          // ever pays the map on a genuine topic switch.
          val resume = mutable.HashMap.empty[String, Long]
          var curTopic: String = null
          var curTopicUtf8: org.apache.spark.unsafe.types.UTF8String = null
          var off = 0L
          it.map { r =>
            // UnsafeRow buffers are reused per iterator: copy the topic
            // string when it changes; getBinary already copies bytes.
            val tRaw = r.getUTF8String(0)
            if (curTopicUtf8 == null || !tRaw.equals(curTopicUtf8)) {
              if (curTopic != null) resume(curTopic) = off
              curTopicUtf8 = tRaw.clone() // detach from the reused buffer
              curTopic = curTopicUtf8.toString
              off = resume.getOrElse(curTopic, bc.value((pid, curTopic)))
            }
            val o = off
            off += 1
            val v = r.getBinary(1)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](curTopicUtf8, o, tsUs, v,
                graft.functions.Fnv1a64.hash(v), v.length))
          }
        }
      // File-size floor: offsets are already baked into the rows, so
      // coalescing only merges writers — small batches produce few files
      // instead of one sliver per input partition; large batches keep
      // all writers (compact() owns later consolidation).
      val inParts = rows.getNumPartitions
      val totalStreamBytes = perTopicTotal.valuesIterator
        .map { case (c, b) => b + cfg.metaOverheadBytes.toLong * c }.sum
      val nOut = math.max(1L,
        math.min(inParts.toLong,
          (totalStreamBytes + cfg.minFileBytes - 1) / cfg.minFileBytes)).toInt
      val outRows = if (nOut < inParts) entryRows.coalesce(nOut) else entryRows

      val id = nextBatchId
      claimBatchDir(id)(d => writeEntryRows(outRows, d))

      // Publish: the atomic rename IS the visibility point (W2/M2 parity).
      val ranges = perTopicTotal.map { case (t, (c, b)) =>
        t -> TopicRange(baseOffsets(t), baseOffsets(t) + c, b, tsUs, tsUs, c)
      }.toMap
      publishCommit(CommitRecord(id, ingestTs.getTime, ranges, tag))
      } finally pinned.foreach(_.unpersist(false))
    }

  /** Kafka-style idempotent producer append. Rows carry (topic, value)
    * plus a producer id and a per-producer monotonically increasing
    * sequence number; rows whose seq is at or below the producer's
    * committed high watermark are retried duplicates and are dropped
    * before the commit, and the watermark then advances to the max
    * surviving seq. A replayed `appendDFIdempotent` call (producer retry
    * after a timeout, a restarted driver resubmitting a batch) therefore
    * lands every entry exactly once — the cross-retry contract the
    * reference's all-or-nothing atomic batch (writer.rs:135-341) does not
    * give. Caller contract (as in Kafka): seqs are unique per producer
    * within a call. Two Spark jobs: one tiny per-producer stats agg (the
    * watermark table joins broadcast, so the filter is map-side) + the
    * normal append.
    * @return the commit record and the number of duplicates dropped */
  def appendDFIdempotent(
      input: DataFrame,
      producerCol: org.apache.spark.sql.Column,
      seqCol: org.apache.spark.sql.Column,
      ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): (CommitRecord, Long) =
    synchronized {
      val base = input.select(
        col("topic").cast(StringType).as("topic"),
        col("value").cast(BinaryType).as("value"),
        producerCol.cast(StringType).as("_prod"),
        seqCol.cast(LongType).as("_pseq"))
      val hwmRows = producerSeq.toSeq
      val tagged = (if (hwmRows.isEmpty) base.withColumn("_hwm", lit(null).cast(LongType))
        else {
          import spark.implicits._
          base.join(broadcast(hwmRows.toDF("_prod", "_hwm")), Seq("_prod"), "left")
        })
        .withColumn("_fresh", col("_pseq") > coalesce(col("_hwm"), lit(Long.MinValue)))
      val st = tagged.groupBy("_prod").agg(
        max(when(col("_fresh"), col("_pseq"))).as("mx"),
        sum(when(col("_fresh"), 1L).otherwise(0L)).as("nf"),
        count(lit(1)).as("n")).collect()
      val dropped = st.map(r => r.getLong(3) - r.getLong(2)).sum
      val rec =
        if (st.forall(_.getLong(2) == 0L))
          CommitRecord(-1L, ingestTs.getTime, Map.empty)
        else appendDF(
          tagged.where(col("_fresh")).select(col("topic"), col("value"), col("_pseq")),
          Some(col("_pseq")), ingestTs)
      st.foreach { r =>
        if (!r.isNullAt(1)) {
          val p = r.getString(0); val mx = r.getLong(1)
          producerSeq(p) = math.max(producerSeq.getOrElse(p, Long.MinValue), mx)
        }
      }
      persistProducers()
      (rec, dropped)
    }

  /** Committed sequence high watermark for `producer` (Long.MinValue when
    * the producer has never appended). */
  def producerHighWatermark(producer: String): Long =
    producerSeq.getOrElse(producer, Long.MinValue)

  private def persistProducers(): Unit =
    writeAtomic(producersPath, Serialization.write(ProducerFile(producerSeq.toMap)))

  // =========================================================================
  // Transactional producer (Kafka-style transactions reduced to this
  // engine's visibility primitive)
  // =========================================================================

  /** Begin a multi-append transaction. Staged appends spool as parquet
    * under `<ns>/txns/` — real storage IO during the transaction — and
    * become visible ATOMICALLY at [[WalrusTxn.commit]], which publishes
    * all staged data as ONE commit (the atomic-rename visibility point
    * this engine already has — no markers, no LSO tracking, no
    * read-committed filtering on the consumer path, because uncommitted
    * data is never referenced by the catalog in the first place).
    * [[WalrusTxn.abort]] deletes the spool; a transaction abandoned by a
    * crash is aborted on the next instance's recovery (the analogue of
    * Kafka's transaction-timeout abort). Offsets are assigned at commit
    * time, so concurrent non-transactional appends interleave freely
    * between transactions (they serialize at the commit point only). */
  def beginTxn(): WalrusTxn = {
    val id = f"${System.currentTimeMillis()}%013d-${txnNonce.incrementAndGet()}%04d"
    new WalrusTxn(this, id)
  }

  private val txnNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private[log] def txnStageRoot: Path = nsDir.resolve("txns")

  private val entrySchema = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("len", IntegerType, nullable = false)))

  /** On-disk layout of one `topic=<t>` data file: the entry columns minus
    * the partition column, as [[writeEntryRows]]'s `partitionBy` write
    * stores them (non-nullable, so `required` in the Parquet footer). */
  private val entryFileSchema = StructType(entrySchema.filterNot(_.name == "topic"))

  /** Parquet and Hadoop options of every ingest write. Page-level CRCs
    * are off: the per-entry FNV column is the integrity check of record
    * (reference parity), parquet footer checksums still cover metadata.
    * The log root is always a local path, so the files go through
    * [[graft.io.ForkFreeLocalFileSystem]] whatever the session's `file:`
    * filesystem is: no `.crc` sidecars and no `chmod` child process per
    * file and directory. */
  private def entryWriteOptions: Map[String, String] = Map(
    "compression" -> cfg.compression,
    "parquet.enable.dictionary" -> cfg.dictionaryEncoding.toString,
    "parquet.page.write-checksum.enabled" -> "false") ++
    graft.io.ForkFreeLocalFileSystem.options

  /** The driver-side commit's Parquet writer, prepared on the first such
    * commit and reused by every later one: the schema and
    * [[entryWriteOptions]] are fixed for the life of the log, and
    * [[appendOnDriver]] writes under the log's monitor. */
  private lazy val entryFileWriter = new org.apache.spark.sql.graft.GraftSqlInternal
    .ParquetFilesWriter(spark, entryFileSchema, entryWriteOptions)

  /** Shared data-file write. Rows arrive already clustered by topic (range
    * or hash shuffle), but an RDD scan carries no ordering info, so a
    * partitionBy write re-sorts the stream unless concurrent writers (> 0,
    * set on the cloned write session) let it keep multiple open files per
    * task instead. */
  private def writeEntryRows(
      outRows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      batchDir: Path): Unit = {
    val entryDf = org.apache.spark.sql.graft.GraftSqlInternal
      .internalCreateDataFrame(writeSession, outRows, entrySchema)
    entryDf.write.mode(SaveMode.ErrorIfExists).options(entryWriteOptions)
      .partitionBy("topic").parquet(batchDir.toString)
  }

  /** Single-job ingest for small `appendDF` inputs: DataFrames whose rows
    * are not on the driver (driver-resident entries from `append` and
    * `batchAppend` commit with no job at all, see [[appendOnDriver]]).
    *
    * The general path needs a count pass before offsets can be assigned
    * (per-(partition, topic) prefix sums) — 3 jobs total, whose fixed
    * ~0.25 s/job floors dominate a 100k-row commit. Here the input is
    * hash-partitioned BY TOPIC ONLY, so every topic lands wholly in one
    * partition and its dense offsets follow directly from the catalog's
    * `nextOffset` — no cross-partition counts needed. Per-topic
    * (count, bytes) stats are folded into an accumulator on the write job
    * itself (successful-task updates are counted once by Spark's
    * accumulator protocol), collapsing ingest to ONE job.
    *
    * Deliberately capped at `cfg.smallCommitMaxBytes`: the per-topic-
    * per-task layout serializes a hot topic onto one writer, which is
    * exactly what the range shuffle avoids for large commits. Offsets are
    * identical to the range path's (per-topic order follows `_seq`). */
  private def appendSmallCommit(
      input: DataFrame,
      seq: org.apache.spark.sql.Column,
      ingestTs: Timestamp,
      tag: Option[String],
      estBytes: Long): CommitRecord = {
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // Planned with AQE off: the plan is a fixed hash repartition with
    // nothing for AQE to re-plan, and AQE would materialize the shuffle
    // stage as its own job — with it off, the whole commit is ONE job.
    val base = org.apache.spark.sql.graft.GraftSqlInternal
      .onSession(input, smallCommitSession)
      .select(
        col("topic").cast(StringType).as("topic"),
        col("value").cast(BinaryType).as("value"),
        seq.cast(LongType).as("_seq"))
    val hashed = base.repartition(parts, col("topic"))
      .sortWithinPartitions("topic", "_seq")
    val rows = org.apache.spark.sql.graft.GraftSqlInternal.toInternalRdd(hashed)

    // Base offsets for every topic the catalog knows; unseen topics start
    // at 0. The catalog can't change mid-call (appendDF is synchronized).
    val bases = topics.iterator.map { case (t, st) => t -> st.nextOffset }.toMap
    val bc = spark.sparkContext.broadcast(bases)
    val acc = spark.sparkContext
      .collectionAccumulator[(String, Long, Long)]("graft.smallCommitStats")
    val tsUs = ingestTs.getTime * 1000L
    val entryRows = rows.mapPartitions { it =>
      // Sorted by (topic, _seq) within a hash-by-topic partition: each
      // topic is one contiguous run, so a plain "current topic" cursor
      // suffices (no resume map) and stats flush once at exhaustion.
      val stats = mutable.LinkedHashMap.empty[String, (Long, Long)]
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private var curTopic: String = null
        private var curTopicUtf8: org.apache.spark.unsafe.types.UTF8String = null
        private var off = 0L
        private var cnt = 0L
        private var bytes = 0L
        private var flushed = false
        private def closeRun(): Unit = if (curTopic != null) {
          stats(curTopic) = (cnt, bytes); cnt = 0L; bytes = 0L
        }
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !flushed) {
            flushed = true
            closeRun()
            stats.foreach { case (t, (c, b)) => acc.add((t, c, b)) }
          }
          h
        }
        def next(): org.apache.spark.sql.catalyst.InternalRow = {
          val r = it.next()
          val tRaw = r.getUTF8String(0)
          if (curTopicUtf8 == null || !tRaw.equals(curTopicUtf8)) {
            closeRun()
            curTopicUtf8 = tRaw.clone() // detach from the reused buffer
            curTopic = curTopicUtf8.toString
            off = bc.value.getOrElse(curTopic, 0L)
          }
          val o = off
          off += 1
          cnt += 1
          val v = r.getBinary(1)
          bytes += v.length
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](curTopicUtf8, o, tsUs, v,
              graft.functions.Fnv1a64.hash(v), v.length))
        }
      }
    }
    // File-size floor, from the plan estimate (no pre-count exists on this
    // path): tiny commits run one writer task (concurrent writers keep one
    // file per topic), larger ones keep a writer per ~minFileBytes.
    val nOut = math.max(1L, math.min(parts.toLong,
      estBytes / cfg.minFileBytes + 1)).toInt
    val outRows =
      if (nOut < entryRows.getNumPartitions) entryRows.coalesce(nOut)
      else entryRows
    val id = nextBatchId
    // Written to staging first; the empty-input check below must see the
    // accumulator (populated by the write job) BEFORE deciding whether to
    // claim the id at all.
    val stage = stagePathFor(id)
    writeEntryRows(outRows, stage)

    val perTopic = mutable.LinkedHashMap.empty[String, (Long, Long)]
    acc.value.asScala.foreach { case (t, c, b) =>
      val (pc, pb) = perTopic.getOrElse(t, (0L, 0L))
      perTopic(t) = (pc + c, pb + b)
    }
    if (perTopic.isEmpty) {
      // Nothing was written (empty input): drop the staging dir — the
      // batch id was never claimed, parity with the general path's early out.
      WalrusLog.deleteRecursively(stage)
      return CommitRecord(-1L, ingestTs.getTime, Map.empty)
    }
    publishStage(stage, id)
    val ranges = perTopic.map { case (t, (c, b)) =>
      val start = bases.getOrElse(t, 0L)
      t -> TopicRange(start, start + c, b, tsUs, tsUs, c)
    }.toMap
    publishCommit(CommitRecord(id, ingestTs.getTime, ranges, tag))
  }

  /** Publish tail every ingest path shares, after its batch dir is
    * claimed: the create-exclusive commit file is the visibility point
    * (W2/M2 parity), then in-memory state (segment rollover), clean
    * markers and the manifest roll-up follow it. */
  private def publishCommit(rec: CommitRecord): CommitRecord = {
    CommitCodec.publish(commitsDir, rec)
    nextBatchId = rec.id + 1
    applyCommit(rec)
    persistClean()
    maybeWriteManifest()
    rec
  }

  private def applyCommit(rec: CommitRecord): Unit = {
    commits += rec
    if (rec.id >= 0) { maxPublishedId = math.max(maxPublishedId, rec.id); publishedCount += 1 }
    sinceManifest += 1 // recover() recomputes after replay; commit sites roll up
    val afterSources = rec.replaces match {
      case Some(ids) =>
        // Compaction: same rows, same offsets — no topic-state change; the
        // sources leave the view in the same publish the compaction enters
        // it, so no read ever sees the range uncovered.
        val sources = ids.toSet
        replaced ++= ids
        view.withoutLive(sources)
      case None =>
        // Segment rollover (reference: distributed-walrus/src/monitor.rs:
        // 15-145, metadata.rs:144-166) happens inside the shared
        // TopicState.applyAppend transition, with the leader rotated
        // round-robin over the virtual node list.
        rec.topics.foreach { case (t, r) =>
          state(t).applyAppend(r.end,
            r.bytes + cfg.metaOverheadBytes.toLong * r.rows,
            cfg.maxSegmentEntries,
            seg => virtualNodes((seg % virtualNodes.size).toInt))
        }
        view.withNextOffsets(rec.topics.iterator.map { case (t, r) => t -> r.end })
    }
    view = if (isVisible(rec)) afterSources.withLive(rec) else afterSources
  }

  // =========================================================================
  // Read path (reference: src/wal/runtime/walrus_read.rs)
  // =========================================================================

  /** All committed entries as a DataFrame — the bridge that gives topic data
    * the full relational surface (SURVEY.md §2.5). Partition pruning applies
    * on `topic` and `batch`; `offset` predicates prune via Parquet stats.
    * Every call lists each visible batch dir and every action on it runs
    * Spark jobs, so the cursor and byte-offset reads below do not go
    * through it: they read only the covering commits' files on the driver
    * (see [[readRange]]). */
  def toDF(): DataFrame = {
    val dirs = visibleBatchDirs
    val raw =
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], readSchema)
      else
        spark.read.option("basePath", dataDir.toString)
          .schema(readSchema).parquet(dirs: _*)
    raw.select(col("topic"), col("batch"), col("offset"),
      timestamp_micros(col("ts_us")).as("ts"), col("value"),
      col("checksum"), col("len"))
  }

  /** One topic's committed entries. */
  def topicDF(topic: String): DataFrame = toDF().where(col("topic") === topic)

  /** Kafka `offsetsForTimes` analogue: the earliest retained offset whose
    * entry timestamp is ≥ `ts`, or None when no such entry exists. The
    * filter runs on the RAW `ts_us` column (not the projected timestamp),
    * so it reaches the parquet scan as a pushed predicate and row-group
    * min/max stats prune every batch written wholly before `ts` — the
    * same sparse-index-then-scan shape as Kafka's time index, with the
    * parquet footers playing the index. */
  def offsetForTimestamp(topic: String, ts: Timestamp): Option[Long] = {
    val us = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
    val dirs = visibleBatchDirs
    if (dirs.isEmpty) return None
    val r = spark.read.option("basePath", dataDir.toString)
      .schema(readSchema).parquet(dirs: _*)
      .where(col("topic") === topic && col("ts_us") >= us)
      .agg(min(col("offset"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Expose the log to SQL: registers a temp view over [[toDF]] (snapshot
    * of currently committed batches) plus graft's native SQL functions —
    * after this, `spark.sql("SELECT ... FROM <name>")` works, giving topic
    * data the whole SQL operator surface (SURVEY.md §2.5). */
  def createOrReplaceView(name: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    toDF().createOrReplaceTempView(name)
  }

  /** Smallest retained offset >= `from` for the topic in `v` — `from`
    * itself when its batch is still visible, the next retained batch's
    * start when retention reclaimed the range at `from`, `from` unchanged
    * when nothing newer exists (read returns empty). */
  private def firstVisibleOffsetAtOrAfter(v: CatalogView, topic: String, from: Long): Long =
    v.live.get(topic).fold(from) { m =>
      m.maxBefore(from + 1) match {
        case Some((_, c)) if c.topics(topic).end > from => from
        case _ => m.minAfter(from + 1).fold(from)(_._1)
      }
    }

  private def visibleBatchDirs: Seq[String] =
    visibleCommits.map(c => dataDir.resolve(s"batch=${c.id}").toString)

  /** Runs `read` over the current [[CatalogView]], and again over a fresh
    * one each time [[readRange]] finds that a commit it read left the view
    * before the read finished: compaction deletes its sources, retention
    * deletes what it reclaims, and a file listed or opened mid-delete can
    * fail or come back short. Any other failure propagates. */
  private def onStableView[T](read: CatalogView => T): T = {
    while (true) {
      try return read(view)
      catch { case ViewMoved => readRetries.incrementAndGet() }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Entries of `topic` with `lo <= offset < hi` in `v`, in offset order,
    * read on the driver — the analogue of the reference's cursor read over
    * the topic's own blocks (`read_one_for_topic_shared`,
    * distributed-walrus/src/controller/mod.rs:199-276). The covering
    * commits come from the view, so nothing lists the data dir, no Spark
    * job runs and no lock is held: cost follows the few files of the
    * covering batches, not the length of the log. Files are expanded and
    * decoded by the DSv2 source's own planner and vectorized reader; `ts`
    * is built from `ts_us` exactly as [[toDF]]'s collected
    * `timestamp_micros` is. Throws [[ViewMoved]] (see [[onStableView]])
    * when a covering commit is no longer in the current view once the read
    * ends or fails: catalog changes publish the view before they delete
    * any file, so a read that saw a delete always sees the change. */
  private def readRange(v: CatalogView, topic: String, lo: Long, hi: Long): Seq[WalrusEntry] = {
    val covering = v.live.get(topic).filter(_ => lo < hi).fold(Seq.empty[CommitRecord]) { m =>
      val from = m.maxBefore(lo + 1).fold(lo)(_._1)
      m.valuesIteratorFrom(from).takeWhile(_.topics(topic).start < hi)
        .filter(_.topics(topic).end > lo).toSeq
    }
    if (covering.isEmpty) return Seq.empty
    def moved: Boolean = {
      val now = view.live.get(topic)
      covering.exists(c => !now.exists(_.get(c.topics(topic).start).exists(_.id == c.id)))
    }
    // WalrusLogSource.Schema: offset, ts_us, value, checksum, then the
    // `topic` partition column last (unused here — it is `topic`)
    val factory = new WalrusReaderFactory(WalrusLogSource.Schema)
    val out = mutable.ArrayBuffer.empty[WalrusEntry]
    try WalrusLogSource.partitionsFor(nsDir, covering.map(_ -> false), Some(topic),
        WalrusLogSource.Schema)
      .foreach { p =>
        val reader = factory.createColumnarReader(p)
        try while (reader.next()) {
          val b = reader.get()
          val (offsets, tsUs, values, checksums) =
            (b.column(0), b.column(1), b.column(2), b.column(3))
          var i = 0
          while (i < b.numRows()) {
            val o = offsets.getLong(i)
            if (o >= lo && o < hi)
              out += WalrusEntry(topic, o,
                DateTimeUtils.toJavaTimestamp(tsUs.getLong(i)),
                values.getBinary(i), checksums.getLong(i))
            i += 1
          }
        } finally reader.close()
      }
    catch { case scala.util.control.NonFatal(_) if moved => throw ViewMoved }
    if (moved) throw ViewMoved
    out.sortBy(_.offset).toSeq
  }

  /** Consume/peek up to `maxBytes` of payload from the group's cursor
    * (always at least one entry; hard cap `maxBatchEntries` per call —
    * reference: `batch_read_for_topic`, src/wal/runtime/walrus_read.rs:368-1198).
    * `checkpoint=false` is a pure peek and advances nothing
    * (reference: walrus_read.rs:147-176). The window is served by
    * [[readRange]]: a driver-side read of the commits covering it, no
    * Spark job.
    *
    * Locks: none of them waits for a commit. The cursor and the covering
    * commits come from the published [[CatalogView]], never the log
    * monitor, so a read does not queue behind an append, an `appendDF`
    * job or a `compact()`. A StrictlyAtOnce consume holds the cursor lock
    * across read, checksum verify and cursor persist, so each entry goes
    * to exactly one caller (reference: walrus_read.rs:861-869); peeks and
    * AtLeastOnce reads take the cursor lock only to move the cursor.
    */
  def batchRead(
      topic: String,
      maxBytes: Long,
      checkpoint: Boolean = true,
      group: String = SharedGroup,
      entriesCap: Int = cfg.maxBatchEntries): Seq[WalrusEntry] = {
    def doRead(): Seq[WalrusEntry] = {
      val cap = math.min(entriesCap, cfg.maxBatchEntries)
      val window = onStableView { v =>
        // Time-based retention can reclaim a range ABOVE the cursor; jump
        // the window start to the first retained offset (from commit
        // metadata) so the window covers retained commits instead of
        // stalling in a gap.
        val from = firstVisibleOffsetAtOrAfter(v, topic, cursors.getOrElse((group, topic), 0L))
        readRange(v, topic, from, from + cap)
      }
      // Byte admission: the longest prefix within `maxBytes`, ≥ 1 entry.
      val fits = window.iterator.scanLeft(0L)(_ + _.value.length).drop(1)
        .takeWhile(_ <= maxBytes).size
      val out = window.take(math.max(fits, 1))
      verify(out)
      // Advance TO the position after the last delivered entry (not by
      // count): identical for dense logs, gap-correct after retention.
      if (checkpoint && out.nonEmpty)
        advanceCursorTo(group, topic, out.last.offset + 1, out.size.toLong)
      out
    }
    consistency match {
      case ReadConsistency.StrictlyAtOnce if checkpoint => cursorLock.synchronized(doRead())
      case _ => doRead()
    }
  }

  /** Consume/peek the next single entry (reference: `read_next`,
    * src/wal/runtime/walrus_read.rs:24-345). */
  def readNext(topic: String, checkpoint: Boolean = true,
      group: String = SharedGroup): Option[WalrusEntry] =
    batchRead(topic, maxBytes = Long.MaxValue, checkpoint, group, entriesCap = 1).headOption

  /** Stateless random-access read from a logical byte offset into the
    * topic's `[256 B meta][payload]` stream: aligns to the entry containing
    * the offset, trims the first payload when the offset lands inside it,
    * never touches cursors or counts (reference: walrus_read.rs:419-585,
    * 1059-1068; count-neutrality walrus.rs:939-957).
    *
    * The containing batch is located from commit metadata (per-batch byte
    * ranges), so the running byte sum only covers that batch plus at most
    * `maxBatchEntries` following entries, read by [[readRange]].
    */
  def batchReadFromByteOffset(
      topic: String,
      maxBytes: Long,
      startByte: Long): Seq[WalrusEntry] = {
    val meta = cfg.metaOverheadBytes.toLong
    val located = onStableView { v =>
      // (batchStartOffset, batchEntryCount, cumulative stream bytes before
      // batch). Ranges sorted by start offset — offsets are dense and
      // non-overlapping, so this is the true stream order even after
      // compaction reshuffles commit-log positions.
      var cum = 0L
      var at: Option[(Long, Long, Long)] = None
      v.live.get(topic).iterator.flatMap(_.valuesIterator).map(_.topics(topic)).foreach { r =>
        val streamBytes = r.bytes + meta * (r.end - r.start)
        if (at.isEmpty && startByte < cum + streamBytes)
          at = Some((r.start, r.end - r.start, cum))
        cum += streamBytes
      }
      at.map { case (batchStart, batchEntries, bytesBefore) =>
        (readRange(v, topic, batchStart, batchStart + batchEntries + cfg.maxBatchEntries),
          bytesBefore)
      }
    }
    located match {
      case None => Seq.empty
      case Some((window, bytesBefore)) =>
        // (entry, stream position just past it): a running sum from the
        // batch's start, kept from the first entry that ends after startByte
        var cumEnd = bytesBefore
        val rows = window
          .map { e => cumEnd += e.value.length + meta; (e, cumEnd) }
          .dropWhile(_._2 <= startByte)
          .take(cfg.maxBatchEntries)
        // Reference parity (walrus_read.rs:536-545): a stateless read that
        // aligns at byte offset 0 into SEALED storage skips the leading run
        // of sub-128 B entries — the reference treats small block-head
        // entries as "likely internal metadata" when scanning a sealed
        // block. Reads served from the unsealed tail return everything
        // (walrus.rs:939-957 reads three 1-byte entries from offset 0 and
        // gets all three); our tail analogue is the still-open segment, so
        // the skip applies only when entry 0 has been sealed by rollover
        // AND, like the reference's scan (bounded by blk.used), never past
        // the sealed boundary into the open segment.
        val sealedBelow = segmentState(topic)._2
        val aligned =
          if (startByte == 0L && sealedBelow > 0)
            rows.dropWhile { case (e, _) =>
              e.offset < sealedBelow && e.value.length < MetadataEntrySkipBytes }
          else rows
        val trimmed = aligned.zipWithIndex.map { case ((e, end), i) =>
          val payloadStart = end - e.value.length
          if (i == 0 && startByte > payloadStart)
            e.copy(value = e.value.drop((startByte - payloadStart).toInt))
          else e
        }
        // Budget admission over (possibly trimmed) payload bytes, ≥ 1 entry.
        var cumOut = 0L
        val out = mutable.ArrayBuffer.empty[WalrusEntry]
        trimmed.foreach { e =>
          if (out.isEmpty || cumOut + e.value.length <= maxBytes) {
            out += e; cumOut += e.value.length
          }
        }
        val res = out.toSeq
        // First (trimmed) entry's checksum covers the full payload; skip it.
        verify(res.drop(if (res.nonEmpty && startByte > 0) 1 else 0))
        res
    }
  }

  private def verify(entries: Seq[WalrusEntry]): Unit =
    if (cfg.verifyChecksums) entries.foreach { e =>
      val h = graft.functions.Fnv1a64.hash(e.value)
      if (h != e.checksum)
        throw new InvalidDataException(
          s"checksum mismatch at ${e.topic}/${e.offset}: stored ${e.checksum}, computed $h")
    }

  // =========================================================================
  // Cursors & delivery semantics (reference: walrus_read.rs:347-366, index.rs)
  // =========================================================================

  def committedOffset(group: String, topic: String): Long =
    cursors.getOrElse((group, topic), 0L)

  /** Kafka-style cursor reposition: set the group's committed offset for
    * `topic` (clamped to [0, totalAppended]) and persist immediately. The
    * reference's cursors only move forward via consumption
    * (walrus_read.rs:347-366); seek is the admin surface a consumer-group
    * model additionally needs (replay / skip-ahead). */
  def seek(group: String, topic: String, offset: Long): Unit =
    // The only backward move, so it also takes the monitor: a vacuum()
    // (which reads cursors under the monitor) never reclaims at or above
    // a cursor some read is still serving from.
    cursorLock.synchronized(synchronized {
      // reject unknown topics: a silent no-op cursor for a typo'd name would
      // inflate consumer_groups and hide the mistake from the caller
      require(topics.contains(topic), s"unknown topic '$topic'")
      cursors = cursors.updated((group, topic),
        math.max(0L, math.min(offset, totalAppended(topic))))
      unpersistedReads.remove((group, topic))
      persistCursors()
    })

  /** Forward-only cursor move, under the cursor lock alone. */
  private def advanceCursorTo(group: String, topic: String, newOffset: Long,
      delivered: Long): Unit = cursorLock.synchronized {
    val k = (group, topic)
    cursors = cursors.updated(k, math.max(cursors.getOrElse(k, 0L), newOffset))
    consistency match {
      case ReadConsistency.StrictlyAtOnce => persistCursors()
      case ReadConsistency.AtLeastOnce(every) =>
        val u = unpersistedReads.getOrElse(k, 0L) + delivered
        if (u >= math.max(every, 1)) {
          persistCursors()
          unpersistedReads(k) = 0L
        } else unpersistedReads(k) = u
    }
  }

  private def persistCursors(): Unit = {
    val grouped = cursors.groupBy(_._1._1).map { case (g, m) =>
      g -> m.map { case ((_, t), o) => t -> o }.toMap
    }
    writeAtomic(cursorsPath, Serialization.write(CursorFile(grouped)))
  }

  // =========================================================================
  // Counts, sizes, clean markers (reference: walrus.rs:117-193)
  // =========================================================================

  /** Unconsumed entries for the shared cursor (reference:
    * `get_topic_entry_count`, src/wal/runtime/walrus.rs:129-142). */
  def entryCount(topic: String): Long =
    view.nextOffsets.get(topic).fold(0L)(n =>
      math.max(n - committedOffset(SharedGroup, topic), 0L))

  def entryCounts: Map[String, Long] = view.nextOffsets.keys.map(t => t -> entryCount(t)).toMap

  /** Total appended entries regardless of consumption. */
  def totalAppended(topic: String): Long = view.nextOffsets.getOrElse(topic, 0L)

  /** Byte size of the topic's logical stream, headers included (reference:
    * `get_topic_size`, src/wal/runtime/walrus.rs:144-178). */
  def topicSize(topic: String): Long = topics.get(topic).map(_.bytesTotal).getOrElse(0L)

  /** Typed segment accounting (the fields stateJson serializes):
    * (current open segment id, entries sealed below it). */
  def segmentState(topic: String): (Long, Long) =
    topics.get(topic).map(st => (st.currentSegment, st.lastSealedEntryOffset))
      .getOrElse((0L, 0L))

  /** Snapshot of the persisted consumer-cursor store as sorted
    * (group, topic, committed) rows — the DESCRIBE GROUPS surface. */
  def consumerCursors: Seq[(String, String, Long)] =
    cursors.toSeq.map { case ((g, t), o) => (g, t, o) }.sortBy(x => (x._1, x._2))

  /** DESCRIBE HISTORY surface: every commit the working set still tracks,
    * in id order, with its aggregate row/byte footprint, tag, and
    * lifecycle flags — pure metadata, the Delta-history analogue over the
    * commit log. Commits shed by manifest truncation are absent by design
    * (their contribution lives in the monotone counters; see
    * [[metricsJson]]). */
  def commitHistory: Seq[(Long, Long, Int, Long, Long, Option[String], Int, Boolean, Boolean)] =
    synchronized {
      commits.iterator.filter(_.id >= 0).toSeq.sortBy(_.id).map { c =>
        val rows = c.topics.valuesIterator.map(_.rows).sum
        val bytes = c.topics.valuesIterator.map(_.bytes).sum
        (c.id, c.tsMillis, c.topics.size, rows, bytes, c.tag,
          c.replaces.map(_.size).getOrElse(0),
          vacuumed.contains(c.id), replaced.contains(c.id))
      }
    }

  def markTopicDirty(topic: String): Unit = synchronized {
    val st = state(topic); st.cleanGeneration += 1; st.clean = false; persistClean()
  }
  def markTopicClean(topic: String): Unit = synchronized {
    val st = state(topic); st.clean = true; persistClean()
  }
  def topicIsClean(topic: String): Boolean = topics.get(topic).forall(_.clean)

  /** W6 dump: the generation-counted clean record for one topic
    * (reference: topic_clean.rs:12-257 persists exactly these fields). */
  def cleanStateJson(topic: String): String = {
    val st = topics.getOrElse(topic, new TopicState)
    JsonMethods.compact(JObject("topic" -> JString(topic),
      "generation" -> JLong(st.cleanGeneration), "is_clean" -> JBool(st.clean)))
  }

  /** Create-if-absent (reference: `REGISTER`/`ensure_topic`,
    * distributed-walrus/src/controller/mod.rs:124-156). */
  def ensureTopic(topic: String): Unit = synchronized { state(topic); persistClean() }

  /** DROP TABLE surface for [[graft.sources.WalrusCatalog]]: forget a
    * registered topic that never held (or no longer holds) entries.
    * Published entries are immutable, so a topic WITH entries cannot be
    * dropped — expire its data via retention first (the same stance as
    * the batch writer's Overwrite rejection). Returns false if the topic
    * is unknown. */
  def unregisterTopic(topic: String): Boolean = synchronized {
    if (!topics.contains(topic)) false
    else {
      require(entryCount(topic) == 0L,
        s"topic '$topic' holds ${entryCount(topic)} entries; published " +
          "entries are immutable — vacuum/retention are the deletion surface")
      val tombGen = topics(topic).cleanGeneration + 1
      topics.remove(topic)
      view = view.copy(nextOffsets = view.nextOffsets - topic)
      unregistered(topic) = tombGen
      persistClean()
      true
    }
  }

  def topicNames: Seq[String] = topics.keys.toSeq

  // =========================================================================
  // State / metrics JSON (reference: distributed `STATE`/`METRICS`,
  // distributed-walrus/src/controller/mod.rs:189-195, 278-282)
  // =========================================================================

  def stateJson(topic: String): String = {
    val st = topics.getOrElse(topic, new TopicState)
    JsonMethods.compact(JObject(
      "topic" -> JString(topic),
      "current_segment" -> JLong(st.currentSegment),
      "leader_node" -> JString(virtualNodes((st.currentSegment % virtualNodes.size).toInt)),
      "last_sealed_entry_offset" -> JLong(st.lastSealedEntryOffset),
      "sealed_segments" -> JObject(st.sealedSegments.toList.map { case (k, v) =>
        k.toString -> JLong(v) }),
      "segment_leaders" -> JObject(st.segmentLeaders.toList.map { case (k, v) =>
        k.toString -> JString(v) }),
      "next_offset" -> JLong(st.nextOffset),
      "entry_count" -> JLong(entryCount(topic))))
  }

  def metricsJson(): String = {
    val nextOffsets = view.nextOffsets
    // publishedCount / droppedVacuumedCount keep these totals invariant
    // under manifest shedding: "commits" counts commits EVER published,
    // not the live working set (reference METRICS counts are monotone).
    JsonMethods.compact(JObject(
      "namespace" -> JString(namespace),
      "topics" -> JLong(nextOffsets.size),
      "commits" -> JLong(publishedCount),
      "total_entries" -> JLong(nextOffsets.valuesIterator.sum),
      "consumer_groups" -> JLong(cursors.keysIterator.map(_._1).toSet.size),
      "vacuumed_batches" -> JLong(vacuumed.size + droppedVacuumedCount)))
  }

  // =========================================================================
  // Maintenance (reference: allocator.rs:188-342 reclamation; M1 recovery)
  // =========================================================================

  /** Delete batch directories whose every topic range is fully consumed by
    * every consumer group (reference's file reclamation,
    * src/wal/runtime/allocator.rs:188-342). Returns reclaimed batch ids.
    * Runs under the monitor but not the cursor lock, on the cursors as
    * last published: cursors only move forward outside the monitor, so a
    * snapshot can only under-reclaim, never reach a range a running read
    * started from. */
  def vacuum(): Seq[Long] = synchronized {
    val consumed = consumedByAllGroups
    val reclaim = visibleCommits.filter(c => c.topics.nonEmpty && consumed(c))
    reclaimAll(reclaim)
    reclaim.map(_.id)
  }

  /** [[vacuum]]'s rule: every topic range of the commit lies below every
    * consumer group's cursor (with no group, nothing counts as consumed). */
  private def consumedByAllGroups: CommitRecord => Boolean = {
    val cs = cursors
    val groups = cs.keys.map(_._1).toSet
    def minCursor(topic: String): Long =
      if (groups.isEmpty) 0L
      else groups.map(g => cs.getOrElse((g, topic), 0L)).min
    c => c.topics.forall { case (t, r) => r.end <= minCursor(t) }
  }

  /** [[vacuumToBytes]]'s rule, over the visible non-empty commits in id
    * order: a commit is reclaimable iff for EVERY topic it carries,
    * strictly newer visible commits hold ≥ `maxTopicBytes` of that topic's
    * payload bytes (suffix sums per topic — metadata scale:
    * O(commits × topics-per-commit)). */
  private def sizeReclaimable(maxTopicBytes: Long): Seq[(CommitRecord, Boolean)] = {
    val newer = mutable.Map.empty[String, Long]
    visibleCommits.filter(_.topics.nonEmpty).sortBy(_.id).reverseIterator.map { c =>
      val ok = c.topics.forall { case (t, _) => newer.getOrElse(t, 0L) >= maxTopicBytes }
      c.topics.foreach { case (t, r) => newer(t) = newer.getOrElse(t, 0L) + r.bytes }
      (c, ok)
    }.toSeq.reverse
  }

  /** Time-based retention (Kafka-style): reclaim the storage of every
    * batch committed before `cutoffMillis`, regardless of consumption.
    * Offsets, entry/segment accounting, and cursors survive — only the
    * data is gone (same storage-only semantics as [[vacuum]]); a cursor
    * below the earliest retained offset simply resumes at the next
    * retained batch. Complements [[vacuum]]'s consumption-based
    * reclamation (reference: src/wal/runtime/allocator.rs:188-342) for
    * topics with slow or absent consumers. */
  def vacuumOlderThan(cutoffMillis: Long): Seq[Long] = synchronized {
    val reclaim = visibleCommits.filter(c =>
      c.topics.nonEmpty && c.tsMillis < cutoffMillis)
    reclaimAll(reclaim.toSeq)
    reclaim.map(_.id).toSeq
  }

  /** Consistent snapshot manifest: every visible commit's per-topic
    * range, in commit order — the export/backup surface (what a
    * point-in-time copy or cross-cluster mirror would ship). Pure commit
    * metadata: no data IO at any log size, and because commits are
    * immutable the manifest is consistent WITHOUT pausing writers — a
    * commit landing after the listing is simply past the snapshot point
    * (the same atomic-visibility argument as the reader paths).
    * Returns (batchSeq starting at 1, topic, range). */
  def snapshotManifest(): Seq[(Long, String, TopicRange)] = synchronized {
    visibleCommits.filter(_.topics.nonEmpty).sortBy(_.id).zipWithIndex.flatMap {
      case (c, i) =>
        c.topics.toSeq.sortBy(_._1).map { case (t, r) => ((i + 1).toLong, t, r) }
    }
  }

  /** Size-based retention (the Kafka `retention.bytes` analogue,
    * complementing [[vacuum]]'s consumption-based and [[vacuumOlderThan]]'s
    * time-based reclamation): reclaim every batch whose data is entirely
    * beyond the retained tail — a batch qualifies iff for EVERY topic it
    * carries, strictly newer visible batches already hold ≥ `maxTopicBytes`
    * of that topic's payload bytes. Reclamation is batch-granular (like
    * the reference's file-level reclamation, allocator.rs:188-342), so the
    * retained tail per topic is at least `maxTopicBytes` but may overshoot
    * by up to one batch. Storage-only, like the other vacuums: offsets,
    * counts, segments, and cursors survive. Accounting uses the payload
    * byte sums each commit records per topic ([[TopicRange.bytes]]) —
    * pure metadata, no data-file IO at any scale. */
  def vacuumToBytes(maxTopicBytes: Long): Seq[Long] = synchronized {
    val reclaim = sizeReclaimable(maxTopicBytes).collect { case (c, true) => c }
    reclaimAll(reclaim)
    reclaim.map(_.id)
  }

  /** Reclamation DRY RUN (the `VACUUM ... DRY RUN` analogue): what the
    * consumption-based [[vacuum]] and size-based [[vacuumToBytes]]
    * policies WOULD reclaim right now, priced per commit from METADATA
    * only — no data IO, no mutation, so operators can cost a retention
    * policy before running it. One row per visible commit in id order:
    * (id, consumptionEligible, sizeEligible(maxTopicBytes), rows,
    * bytes). The eligibility predicates are the ones the destructive
    * paths apply ([[consumedByAllGroups]] and [[sizeReclaimable]]). */
  def vacuumPlan(maxTopicBytes: Long): Seq[(Long, Boolean, Boolean, Long, Long)] =
    synchronized {
      val consumed = consumedByAllGroups
      sizeReclaimable(maxTopicBytes).map { case (c, sizeOk) =>
        (c.id, consumed(c), sizeOk, c.topics.valuesIterator.map(_.rows).sum,
          c.topics.valuesIterator.map(_.bytes).sum)
      }
    }

  // -------------------------------------------------------------- manifest
  // The rolled-up commit-log checkpoint (the Delta checkpoint / Raft
  // snapshot analogue — reference: distributed-walrus/src/metadata.rs:
  // 115-189): every `cfg.manifestEveryCommits` commits, the full in-memory
  // commit list + vacuumed flags is written as ONE JSON file. Cold starts
  // ([[recover]], a fresh V2 scan/stream) read newest-manifest + JSON tail
  // instead of parsing every commit file — O(K) driver work at any log age.

  /** Write `manifests/manifest-<maxId>.json` from in-memory state (atomic
    * replace; manifests are derived state, so last-writer-wins is safe —
    * any reader that misses one simply parses more of the JSON tail).
    * Keeps the newest two files so a reader that just listed the directory
    * never races a deletion.
    *
    * Snapshot-then-truncate (the Raft-snapshot semantics of the
    * reference, distributed-walrus/src/metadata.rs:115-189): the manifest
    * carries the rolled-up topic states plus only the LIVE covered
    * commits; fully-reclaimed commits (vacuumed
    * or replaced — no data directory either way) are dropped from the file
    * AND from the in-memory `commits` vector, so both manifest size and
    * driver memory are O(live batches), not O(commits ever published) —
    * at streaming cadence (a commit every 200 ms for months) the
    * difference between a bounded working set and 10⁷⁺ records. What a
    * replay of the dropped records would have contributed survives in the
    * scalar counters and the bounded dropped-tag maps. */
  private def writeManifest(): Unit = {
    val covered = commits.filter(_.id >= 0)
    if (covered.isEmpty) return
    val asOf = math.max(covered.map(_.id).max, maxPublishedId)
    val (dead, live) = covered.partition(c =>
      vacuumed.contains(c.id) || replaced.contains(c.id))
    // shed the reclaimed prefix from memory; keep what replaying it
    // would have produced (tags for sink idempotence, vacuum count)
    dead.foreach { c =>
      c.tag.foreach(recordDroppedTag(_, c.id))
      if (vacuumed.contains(c.id)) droppedVacuumedCount += 1
      vacuumed -= c.id
      replaced -= c.id
    }
    if (dead.nonEmpty) {
      val deadIds = dead.map(_.id).toSet
      commits.filterInPlace(c => c.id < 0 || !deadIds(c.id))
    }
    val entries = live.sortBy(_.id).map(c => ManifestEntry(c.id, c.tsMillis,
      c.topics, c.tag, c.replaces, vacuumed.contains(c.id)))
    val snaps = topics.map { case (t, st) =>
      TopicSnapshot(t, st.nextOffset, st.bytesTotal, st.currentSegment,
        st.lastSealedEntryOffset,
        st.sealedSegments.map { case (seg, n) =>
          SegmentSnap(seg, n, st.segmentLeaders.getOrElse(seg, ""))
        }.toSeq,
        st.cleanGeneration, st.clean)
    }.toSeq
    Files.createDirectories(manifestsDir)
    CommitCodec.writeManifest(manifestsDir.resolve(f"manifest-$asOf%012d.json"),
      LogManifest(asOf, entries.toSeq, snaps, publishedCount,
        droppedVacuumedCount, droppedTagsSnapshot))
    manifestFiles(manifestsDir).dropRight(2).foreach(Files.deleteIfExists(_))
    sinceManifest = 0
  }

  private def newestManifestAsOf: Option[Long] =
    manifestFiles(manifestsDir).lastOption.flatMap(manifestIdOf)

  private def maybeWriteManifest(): Unit =
    if (cfg.manifestEveryCommits > 0 && sinceManifest >= cfg.manifestEveryCommits)
      writeManifest()

  /** Delete the batches' data dirs and mark their commit records vacuumed —
    * offsets/segments/cursors survive (storage-only), only reads skip them.
    *
    * Ordering: the manifest (when one covers ANY reclaimed commit) is
    * rewritten ONCE, BEFORE any data directory is deleted, so a recovery
    * that trusts the manifest can never see a batch live after its storage
    * is gone — the crash window is "flag set but data still present"
    * (re-vacuum is idempotent), never the reverse. One rewrite per vacuum
    * CALL, not per batch: a retention pass reclaiming K batches costs one
    * O(live) manifest write, not K of them. Each commit JSON is then
    * rewritten with its vacuumed flag, for the JSON tail past the manifest. */
  private def reclaimAll(cs: Seq[CommitRecord]): Unit = {
    if (cs.isEmpty) return
    cs.foreach(c => vacuumed += c.id)
    view = view.withoutLive(cs.map(_.id).toSet) // before any delete
    val asOf = newestManifestAsOf
    if (cs.exists(c => asOf.exists(_ >= c.id))) writeManifest()
    cs.foreach { c =>
      deleteRecursively(dataDir.resolve(s"batch=${c.id}"))
      CommitCodec.markVacuumed(commitsDir, c)
    }
  }

  /** Compact the current visible batches into one batch of few large files
    * (small-file mitigation for micro-batch ingest — the 100 TB analogue of
    * the reference's block/file consolidation, and of Delta OPTIMIZE).
    * Offsets, counts, segments, and cursors are untouched: the compaction
    * commit carries the merged ranges and `replaces` the source batches.
    *
    * Streaming note: a stream whose cursor is PAST every replaced source
    * commit skips the compaction commit entirely (the V2 stream resolves
    * `replaces` against its own consumed prefix — no re-delivery, matching
    * the reference's byte-position cursors over immutable blocks). Only a
    * stream whose cursor straddles the replaced set (some sources consumed,
    * some not) receives the compaction batch whole and re-sees the consumed
    * subset — dedupe downstream on (topic, offset) there, or compact data
    * already consumed by all streams. Returns the new batch id, or None if
    * < 2 batches.
    *
    * Cursor reads do not wait for it: they serve from the sources until
    * the compaction commit publishes, and a read still opening a source's
    * files when they are deleted starts over on the compaction commit. */
  def compact(targetFileBytes: Long = 1L << 30,
      maxSourceBatches: Int = Int.MaxValue): Option[Long] = synchronized {
    withCollisionRetry(compactAttempt(targetFileBytes, maxSourceBatches))
  }

  private def compactAttempt(targetFileBytes: Long,
      maxSourceBatches: Int): Option[Long] = {
    val sources = visibleCommits.filter(_.topics.nonEmpty).take(maxSourceBatches)
    if (sources.size < 2) return None
    val ids = sources.map(_.id)
    // Per-topic ts bounds are min/max over the replaced ranges and the
    // row count is the sum of theirs: the merged offset range can span
    // offsets vacuumed before this compaction, so its end-start is only an
    // upper bound (see TopicRange).
    val merged: Map[String, TopicRange] = sources
      .flatMap(_.topics.toSeq).groupBy(_._1).map { case (t, trs) =>
        val rs = trs.map(_._2)
        t -> TopicRange(rs.map(_.start).min, rs.map(_.end).max, rs.map(_.bytes).sum,
          rs.map(_.tsUsMin).min, rs.map(_.tsUsMax).max, rs.map(_.rows).sum)
      }
    val totalBytes = merged.valuesIterator.map(r =>
      r.bytes + cfg.metaOverheadBytes.toLong * r.rows).sum
    val nParts = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val id = nextBatchId
    claimBatchDir(id) { d =>
      toDF().where(col("batch").isin(ids: _*))
        .select(col("topic"), col("offset"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("checksum"), col("len"))
        .repartitionByRange(nParts, col("topic"), col("offset"))
        .sortWithinPartitions("topic", "offset")
        .write.mode(SaveMode.ErrorIfExists).options(entryWriteOptions)
        .partitionBy("topic").parquet(d.toString)
    }
    val rec = CommitRecord(id, System.currentTimeMillis(), merged,
      tag = None, replaces = Some(ids))
    CommitCodec.publish(commitsDir, rec)
    nextBatchId = id + 1
    applyCommit(rec)
    maybeWriteManifest()
    // Sources are invisible from here on; reclaim their storage.
    ids.foreach(i => deleteRecursively(dataDir.resolve(s"batch=$i")))
    Some(id)
  }

  /** Kafka log-cleaner semantics as a plan builder: the latest entry per
    * (topic, key) across every visible entry, with keys whose latest
    * value is a TOMBSTONE (per `tombstone`, e.g. `length(value) === 0`)
    * removed entirely — the compacted-topic view a changelog consumer
    * materializes. `keyExpr` extracts the record key from the entry
    * columns (`topic/offset/ts/value/...`); null-key entries are outside
    * compaction's domain (Kafka drops them from compacted topics) and are
    * excluded.
    *
    * Plan shape: ONE shuffle keyed on (topic, key) with a partial
    * `max_by(struct, offset)` aggregation — no per-key sort window, so
    * map-side combine collapses hot keys before the exchange (the
    * rel_cdc_apply shape). Callers wanting storage reclamation append the
    * result to a fresh topic/log (the cleaner's output segment) — offsets
    * in THIS log are never rewritten, mirroring how [[compact]] moves
    * storage but never offsets.
    * Columns: topic, key, last_offset, n_versions, value. */
  def compactKeyed(keyExpr: org.apache.spark.sql.Column,
      tombstone: org.apache.spark.sql.Column): DataFrame = {
    val keyed = toDF().withColumn("_k", keyExpr).where(col("_k").isNotNull)
    keyed.groupBy(col("topic"), col("_k").as("key"))
      .agg(count(lit(1)).as("n_versions"),
        max(col("offset")).as("last_offset"),
        max_by(col("value"), col("offset")).as("value"))
      .where(!tombstone)
  }

  /** Startup recovery (reference: `startup_chore`,
    * src/wal/runtime/walrus.rs:240-425): replay the commit log in id order to
    * rebuild topic states, segment accounting, and entry counts; hydrate
    * cursors (clamped to valid range); orphaned uncommitted batch dirs are
    * ignored — they were never visible. */
  /** Newest mtime anywhere under `p` (the dir itself plus every file and
    * subdir) — the staleness signal for abandoned-dir sweeps. A LIVE
    * writer keeps touching files inside its staging dir / txn spool, so
    * the newest-mtime stays current for the whole write; only a crashed
    * writer's goes cold. Walk errors (a concurrent writer renaming the
    * dir away mid-walk) report "fresh" — never sweep on uncertainty. */
  private def newestMtimeMillis(p: Path): Long =
    try {
      val walk = Files.walk(p)
      try walk.mapToLong(f =>
          try Files.getLastModifiedTime(f).toMillis
          catch { case _: java.io.IOException => Long.MaxValue })
        .max().orElse(Long.MaxValue)
      finally walk.close()
    } catch {
      // UncheckedIOException: Files.walk wraps traversal errors (a
      // concurrent writer publishing/deleting the dir mid-walk)
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        Long.MaxValue
    }

  /** Is this abandoned-looking dir old enough to sweep? Gated on
    * [[LogConfig.staleStageSweepMs]]: recover() runs on EVERY open —
    * including read-only opens and the `walrus_namespaces` TVF, which
    * opens every namespace under a root — so an unconditional sweep races
    * a live writer's in-flight stage (ADVICE r12, the multi-writer
    * regression). 0 disables the gate (single-writer deployments). */
  private def staleEnoughToSweep(p: Path): Boolean =
    cfg.staleStageSweepMs <= 0 ||
      newestMtimeMillis(p) < System.currentTimeMillis() - cfg.staleStageSweepMs

  private def recover(): Unit = {
    // Abandoned transaction spools (a writer crashed mid-transaction) are
    // aborted here — staged data was never referenced by any commit, so
    // deletion is the whole abort (Kafka's transaction-timeout abort,
    // reduced to a directory sweep). Age-gated: a LIVE writer in another
    // process may have an open transaction spooling under `<ns>/txns/`.
    if (Files.exists(txnStageRoot))
      listDir(txnStageRoot).filter(staleEnoughToSweep).foreach(deleteRecursively)
    // Manifest fast path: restore the rolled-up prefix from ONE file, then
    // parse only the JSON tail past it — O(tail) instead of O(all commits).
    val manifest = readNewestManifest(nsDir)
    manifest.foreach { m =>
      // the snapshot IS the replayed state of every commit ≤ asOf (live
      // AND dropped) — restore it directly, then register the live
      // entries for the read path WITHOUT re-applying them.
      m.state.foreach { snap =>
        val st = state(snap.topic)
        st.nextOffset = snap.nextOffset
        st.bytesTotal = snap.bytesTotal
        st.currentSegment = snap.currentSegment
        st.lastSealedEntryOffset = snap.lastSealedEntryOffset
        snap.segments.foreach { s =>
          st.sealedSegments(s.seg) = s.n
          st.segmentLeaders(s.seg) = s.leader
        }
        st.cleanGeneration = snap.cleanGeneration
        st.clean = snap.clean
      }
      m.entries.foreach { e =>
        if (e.vacuumed) vacuumed += e.id
        e.replaces.foreach(replaced ++= _)
        commits += e.record
        e.topics.foreach { case (t, _) => state(t) }
      }
      maxPublishedId = m.asOf
      publishedCount = m.publishedCount
      droppedVacuumedCount = m.vacuumedCount
      m.droppedTags.foreach { case (t, id) => recordDroppedTag(t, id) }
    }
    val manifestAsOf = manifest.map(_.asOf).getOrElse(-1L)
    val commitFiles = listDir(commitsDir)
      .filter(_.getFileName.toString.endsWith(".json")).sorted
      .filter(p => commitIdOf(p).forall(_ > manifestAsOf))
    commitFiles.foreach(p => applyCommitFile(CommitCodec.readCommit(p)))
    sinceManifest = commitFiles.size
    // clean markers + registered-but-empty topics
    if (Files.exists(cleanPath)) {
      val cf = org.json4s.jackson.JsonMethods
        .parse(new String(Files.readAllBytes(cleanPath), "UTF-8")).extract[CleanFile]
      cf.topics.foreach { case (t, cs) =>
        // a tombstone must NOT rehydrate the topic: it records a drop.
        // (getOrElseUpdate directly — state()'s tombstone-seeding disk read
        // is for fresh registrations, not for hydrating this same file)
        if (!cs.dropped) {
          val st = topics.getOrElseUpdate(t, new TopicState)
          if (cs.generation >= st.cleanGeneration) {
            st.cleanGeneration = cs.generation; st.clean = cs.clean
          }
        } else {
          // A topic captured in a manifest snapshot but DROP'd afterwards:
          // the snapshot restore above resurrected it with the OLDER
          // generation. The newer on-disk tombstone must win (ADVICE r8) —
          // remove it again, or memory lists a topic disk says is dropped.
          topics.get(t).filter(_.cleanGeneration < cs.generation)
            .foreach(_ => topics.remove(t))
        }
      }
    }
    if (Files.exists(producersPath)) {
      val pf = org.json4s.jackson.JsonMethods
        .parse(new String(Files.readAllBytes(producersPath), "UTF-8")).extract[ProducerFile]
      producerSeq ++= pf.producers
    }
    // the replay above published partial views; publish the recovered
    // catalog whole
    view = CatalogView.Empty.withNextOffsets(topics.iterator.map { case (t, st) =>
      t -> st.nextOffset }).withLive(commits.filter(isVisible).toSeq: _*)
    if (Files.exists(cursorsPath)) {
      val cur = org.json4s.jackson.JsonMethods
        .parse(new String(Files.readAllBytes(cursorsPath), "UTF-8")).extract[CursorFile]
      cursors = cur.groups.iterator.flatMap { case (g, m) =>
        m.iterator.map { case (t, o) =>
          val hi = topics.get(t).map(_.nextOffset).getOrElse(0L)
          (g, t) -> math.min(math.max(o, 0L), hi) // clamp (walrus.rs:429-550)
        }
      }.toMap
    }
    // Orphaned-storage sweep (ADVICE r8): reclamation orders manifest
    // rewrite → dir delete, so a crash in between leaves `batch=N` dirs
    // whose commit the manifest already shed (or whose vacuumed/replaced
    // flag survived but the delete didn't land). Reads tombstone them —
    // never wrong results — but nothing would ever delete them: the
    // commits are gone from the in-memory vector, so re-vacuum can't find
    // them. Sweep here: a dir is dead iff its id is ≤ the manifest
    // watermark yet no live commit lists it, or its commit is flagged
    // vacuumed/replaced (data provably superseded either way). Live dirs
    // (tail commits, a concurrent writer's in-flight batch — always past
    // the watermark and not yet committed) never match.
    val liveIds = commits.iterator.map(_.id).toSet
    listDir(dataDir).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption.foreach { id =>
        val dead = (id <= maxPublishedId && !liveIds(id)) ||
          vacuumed.contains(id) || replaced.contains(id)
        if (dead) deleteRecursively(p)
      }
      // A writer that crashed between staging a batch and claiming its id
      // leaves `batch=<id>.stage-<uuid>` — never referenced by any commit
      // (the atomic rename IS the claim), so deletion is the whole abort,
      // exactly like the txn-spool sweep above. Age-gated (ADVICE r12):
      // another LIVE writer's phase-2 write happens entirely in its stage
      // dir, and recover() runs on every open — sweeping a fresh stage
      // would abort (or worse, partially gut) that writer's in-flight
      // append. staleEnoughToSweep uses newest-mtime-in-tree, which the
      // live writer keeps current; a crashed writer's goes cold.
      if (n.startsWith("batch=") && n.contains(".stage-") &&
          staleEnoughToSweep(p)) deleteRecursively(p)
    }
    // maxPublishedId guards against id reuse when EVERY covered commit was
    // dropped from the manifest (commits empty, data dirs reclaimed).
    val maxCommit = math.max(
      commits.map(_.id).maxOption.getOrElse(-1L), maxPublishedId)
    val maxDir = listDir(dataDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption else None
    }.maxOption.getOrElse(-1L)
    nextBatchId = math.max(maxCommit, maxDir) + 1
    // A claim past the watermark with no commit file may be another
    // writer's claim → publish gap: its ranges are unknown until it
    // publishes, so the first commit from here waits it out (see
    // withCollisionRetry) instead of reusing its offsets.
    claimGapPending = claimedUnpublished.nonEmpty
  }

  /** Batch dirs claimed by a writer whose commit is not applied here.
    * A claim untouched for [[LogConfig.staleStageSweepMs]] is abandoned
    * (its writer crashed mid-commit), the same age rule as the stage
    * sweep: nothing waits for it, and its id stays a gap. */
  private def claimedUnpublished: Seq[Long] = {
    val known = commits.iterator.map(_.id).toSet
    WalrusLog.listDir(dataDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch=") && !n.contains(".stage-"))
        n.stripPrefix("batch=").toLongOption.filterNot(id =>
          known(id) || abandonedClaims(id) || staleEnoughToSweep(p))
      else None
    }
  }

  /** Fold one published commit file into in-memory state. */
  private def applyCommitFile(file: (CommitRecord, Boolean)): Unit = {
    val (rec, isVacuumed) = file
    if (isVacuumed) vacuumed += rec.id
    applyCommit(rec)
    rec.topics.foreach { case (t, _) => state(t) }
  }

  /** Claim `batch=<id>` atomically for this writer: `write` lands the data
    * in a process-unique staging dir, which is then `rename(2)`'d into
    * place — the move succeeds only if the target does not exist, so two
    * live writers racing the same id can never interleave part-files in
    * one batch dir (the check-then-write window `SaveMode.ErrorIfExists`
    * leaves open). The loser's staging dir is entirely its own, so it is
    * deleted before the collision is surfaced for retry. Listing code
    * ignores staging dirs everywhere (`batch=`-prefix + `toLongOption`
    * parses reject the `.stage-` suffix); [[recover]] sweeps any a crashed
    * writer left behind. */
  private def stagePathFor(id: Long): Path =
    dataDir.resolve(s"batch=$id.stage-${java.util.UUID.randomUUID()}")

  /** Rename a fully-written staging dir into `batch=<id>`. The rename
    * fails (and the staging dir — entirely this writer's — is deleted)
    * when another writer already claimed the id. */
  private def publishStage(stage: Path, id: Long): Path = {
    val target = dataDir.resolve(s"batch=$id")
    // Only a target-already-claimed failure is a collision. The Linux
    // rename(2) failure surfaces as a generic FileSystemException
    // ("Directory not empty" — verified empirically, NOT the typed
    // DirectoryNotEmptyException), so classification is semantic: the
    // rename failed AND the target now exists ⟹ another writer claimed
    // the id. AtomicMoveNotSupportedException (filesystems without atomic
    // rename, e.g. some object-store mounts) is a REAL environment
    // failure and propagates as-is — mislabeling it as a collision would
    // burn the resync/retry budget re-writing the batch and surface a
    // misleading error (ADVICE r12). Either way the staging dir is
    // entirely this writer's, so it is cleaned up before rethrow.
    try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.AtomicMoveNotSupportedException =>
        WalrusLog.deleteRecursively(stage)
        throw e
      case e: java.nio.file.FileSystemException =>
        WalrusLog.deleteRecursively(stage)
        if (Files.exists(target))
          throw new CommitCollisionException(
            s"commit collision: batch dir $target was claimed by another " +
              "writer on this namespace", e)
        else throw e
    }
    target
  }

  private def claimBatchDir(id: Long)(write: Path => Unit): Path = {
    val stage = stagePathFor(id)
    write(stage)
    publishStage(stage, id)
  }

  /** Lease-resync analogue (reference: the losing writer re-syncs with the
    * controller before retrying, distributed-walrus/src/controller/
    * mod.rs:165-187, 321-371): fold every commit file another live writer
    * published since our last look into in-memory state, and advance
    * `nextBatchId` past both published ids and already-claimed batch dirs
    * (a concurrent writer may have claimed a dir whose commit is not yet
    * public). Returns the number of foreign commits applied. */
  private def resyncFromDisk(): Int = synchronized {
    def applyFresh(): Int = {
      val known = commits.iterator.map(_.id).toSet
      val fresh = WalrusLog.listDir(commitsDir)
        .filter(p => WalrusLog.commitIdOf(p).exists(id =>
          !known(id) && !vacuumed.contains(id)))
        .sorted
      fresh.foreach(p => applyCommitFile(CommitCodec.readCommit(p)))
      fresh.size
    }
    var applied = applyFresh()
    // A batch dir claimed by a writer whose commit file is not yet
    // visible: the claimant sits in the (tiny, driver-side) claim →
    // publish gap, and its per-topic ranges are unknowable until the
    // commit lands — retrying now would re-sequence OVER them (the
    // cross-process race this method exists for). Wait the gap out
    // (bounded by LogConfig.claimGapWaitMs; the reference's equivalent
    // timeouts are configurable, controller/mod.rs:321-371); a claimant
    // that never publishes (crashed mid-gap) fails the resync and the
    // caller fail-stops exactly as the pre-retry code did, until the
    // claim is old enough to count as abandoned. `wait(10)`
    // rather than Thread.sleep: wait RELEASES the instance monitor (even
    // the caller's reentrant hold) each tick, so a crashed claimant
    // stalls only this resyncing thread — other threads on the instance
    // keep reading/appending (ADVICE r12 liveness).
    val deadline = System.nanoTime() + cfg.claimGapWaitMs * 1000L * 1000
    while (claimedUnpublished.nonEmpty && System.nanoTime() < deadline) {
      wait(10)
      applied += applyFresh()
    }
    val orphans = claimedUnpublished
    // an open's first commit waits once: what is still unpublished then
    // is abandoned
    if (claimGapPending) abandonedClaims ++= orphans
    else if (orphans.nonEmpty)
      throw new CommitCollisionException(
        s"commit collision: batch dir(s) ${orphans.mkString(", ")} were " +
          "claimed by another writer that never published their commits " +
          "(crashed mid-publish?); re-open the log to recover, or wait until " +
          "the claim is staleStageSweepMs old")
    // Producer watermarks too: the winner may have advanced a shared
    // idempotent producer's high-water mark — fold it in (max-merge, so a
    // replay that raced the other writer still dedups correctly).
    if (Files.exists(producersPath)) {
      val pf = org.json4s.jackson.JsonMethods
        .parse(new String(Files.readAllBytes(producersPath), "UTF-8"))
        .extract[ProducerFile]
      pf.producers.foreach { case (p, sq) =>
        producerSeq(p) = math.max(producerSeq.getOrElse(p, Long.MinValue), sq)
      }
    }
    val maxDir = WalrusLog.listDir(dataDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption else None
    }.maxOption.getOrElse(-1L)
    nextBatchId = math.max(nextBatchId, math.max(
      commits.iterator.map(_.id).maxOption.getOrElse(-1L), maxDir) + 1)
    applied
  }

  /** Run `op` (a commit-publishing operation whose visibility point is the
    * commit file — everything before it is invisible and re-runnable),
    * resyncing and retrying on [[CommitCollisionException]] up to
    * [[LogConfig.commitCollisionRetries]] times. The first commit after
    * an open that found an unpublished claim resyncs before its attempt,
    * waiting that claim out once: a claim still unpublished after
    * [[LogConfig.claimGapWaitMs]] is abandoned, and its id stays a gap.
    * Collisions can only be
    * thrown BEFORE the commit publishes ([[claimBatchDir]] /
    * [[WalrusLog.writeAtomicNew]]), so a retry never double-commits. */
  private def withCollisionRetry[T](op: => T): T = {
    if (claimGapPending)
      try resyncFromDisk() finally claimGapPending = false
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: CommitCollisionException =>
          if (attempt >= cfg.commitCollisionRetries) throw e
          attempt += 1
          resyncFromDisk()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def close(): Unit = cursorLock.synchronized(synchronized {
    persistCursors()
    persistClean()
  })

  // ---- helpers ----

  private def state(topic: String): TopicState =
    topics.getOrElseUpdate(topic, {
      // Re-registration after a drop must OUTRANK the tombstone in the
      // clean-file merge, or the new registration would lose to it and the
      // topic would stay invisible to other processes. Seed the generation
      // from whichever tombstone exists — this instance's or one another
      // process persisted (ties go to the live entry in the merge). Disk
      // is consulted only here, on topic CREATION — never on the hot path.
      val st = new TopicState
      val localTomb = unregistered.remove(topic).getOrElse(0L)
      val diskTomb = diskCleanTopics.get(topic)
        .collect { case cs if cs.dropped => cs.generation }.getOrElse(0L)
      st.cleanGeneration = math.max(localTomb, diskTomb)
      view = view.withNextOffsets(Iterator.single(topic -> 0L))
      st
    })

  /** Current on-disk clean file, tolerant of absence/corruption. */
  private def diskCleanTopics: Map[String, CleanState] =
    if (!Files.exists(cleanPath)) Map.empty
    else try org.json4s.jackson.JsonMethods
      .parse(new String(Files.readAllBytes(cleanPath), "UTF-8"))
      .extract[CleanFile].topics
    catch { case _: Exception => Map.empty }

  /** Persist clean markers, MERGED with the on-disk file: a second live
    * instance on this namespace (catalog DDL, a second process) may have
    * registered topics this instance never loaded, and a whole-file
    * last-writer-wins overwrite would silently drop them. The merge is
    * GENERATION-ORDERED per topic (ADVICE r7): the entry with the higher
    * cleanGeneration wins — so a stale long-lived instance can neither
    * overwrite a newer generation another process persisted nor resurrect
    * a topic a catalog DROP tombstoned at a higher generation. Ties go to
    * the live entry (a re-registration seeds its generation AT the
    * tombstone's and must win it — see [[state]]). Two instances racing
    * the read-modify-write can still lose ONE registration of a
    * never-written topic (writes re-register on every commit, so
    * data-bearing topics self-heal); full mutual exclusion would need the
    * create-exclusive commit protocol, which registration deliberately
    * stays off of (reference REGISTER is idempotent,
    * distributed-walrus/src/controller/mod.rs:124-156). */
  private def persistClean(): Unit = {
    val disk = diskCleanTopics
    val mem = topics.map { case (t, st) =>
      t -> CleanState(st.cleanGeneration, st.clean)
    }.toMap
    val tombs = unregistered.map { case (t, g) =>
      t -> CleanState(g, clean = true, dropped = true)
    }.toMap
    val merged = (disk.keySet ++ mem.keySet ++ tombs.keySet).iterator.map { t =>
      // priority order breaks generation TIES: memory (our newest action —
      // clean-marker toggles share a generation) beats disk, and a local
      // tombstone beats the disk copy it is deleting; disk wins only when
      // STRICTLY newer (another process moved the topic past us)
      val winner = Seq(mem.get(t), tombs.get(t), disk.get(t)).flatten
        .maxBy(_.generation)
      t -> winner
    }.toMap
    writeAtomic(cleanPath, Serialization.write(CleanFile(merged)))
  }

  private lazy val readSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("batch", LongType),
    StructField("offset", LongType),
    StructField("ts_us", LongType),
    StructField("value", BinaryType),
    StructField("checksum", LongType),
    StructField("len", IntegerType)))
}

object WalrusLog {
  /** The reference's single shared per-topic cursor (walrus_read.rs:24-345)
    * is modelled as this group. */
  val SharedGroup = ""

  /** Payload-size floor below which leading entries of a sealed block are
    * treated as internal metadata by stateless offset-0 reads
    * (reference: walrus_read.rs:536-545, `data_size < 128`). */
  val MetadataEntrySkipBytes = 128

  /** One published state of a log's catalog, immutable.
    * @param live        every visible commit's range of each topic, keyed
    *                    by the range's start offset. A topic's live ranges
    *                    are disjoint (a compaction hides its sources in the
    *                    publish that adds it), so the reads that follow a
    *                    cursor find their covering commits with a floor
    *                    lookup, not a pass over the catalog.
    * @param visible     the visible commits in commit order.
    * @param nextOffsets every registered topic's next offset. */
  private final case class CatalogView(
      live: Map[String, TreeMap[Long, CommitRecord]],
      visible: Vector[CommitRecord],
      nextOffsets: Map[String, Long]) {

    def withLive(cs: CommitRecord*): CatalogView =
      copy(live = cs.foldLeft(live) { (acc, c) =>
        c.topics.foldLeft(acc) { case (m, (t, r)) =>
          if (r.end > r.start)
            m.updated(t, m.getOrElse(t, TreeMap.empty[Long, CommitRecord]).updated(r.start, c))
          else m
        }
      }, visible = visible ++ cs)

    def withoutLive(ids: Set[Long]): CatalogView = {
      val (gone, kept) = visible.partition(c => ids(c.id))
      copy(live = gone.foldLeft(live) { (acc, c) =>
        c.topics.foldLeft(acc) { case (m, (t, r)) =>
          m.get(t).filter(_.get(r.start).exists(_.id == c.id)).fold(m) { ranges =>
            val rest = ranges - r.start
            if (rest.isEmpty) m - t else m.updated(t, rest)
          }
        }
      }, visible = kept)
    }

    def withNextOffsets(kvs: IterableOnce[(String, Long)]): CatalogView =
      copy(nextOffsets = nextOffsets ++ kvs)
  }

  private object CatalogView {
    val Empty = CatalogView(Map.empty, Vector.empty, Map.empty)
  }

  /** A read's covering commit left the catalog view mid-read; the read
    * starts over on the new view (see `WalrusLog.onStableView`). */
  private object ViewMoved extends scala.util.control.ControlThrowable

  /** Builder parity with the reference's `WalrusBuilder`
    * (reference: src/wal/builder.rs:26-105): `dataDir`/`key`/`consistency`
    * knobs. The fsync schedule has no batch-API analogue — durability is
    * the commit protocol; the streaming trigger cadence
    * ([[graft.streaming.WalrusStreams.DefaultTriggerMs]]) plays that role. */
  def builder(spark: org.apache.spark.sql.SparkSession): Builder = new Builder(spark)

  final class Builder private[WalrusLog] (spark: org.apache.spark.sql.SparkSession) {
    private var dataDir: String =
      sys.env.getOrElse("WALRUS_DATA_DIR",
        System.getProperty("java.io.tmpdir") + "/walrusspark")
    private var key: String = sys.env.getOrElse("WALRUS_INSTANCE_KEY", "default")
    private var cons: ReadConsistency = ReadConsistency.StrictlyAtOnce
    private var config: LogConfig = LogConfig()

    def withDataDir(dir: String): Builder = { dataDir = dir; this }
    def withKey(k: String): Builder = { key = k; this }
    def withConsistency(c: ReadConsistency): Builder = { cons = c; this }
    def withConfig(c: LogConfig): Builder = { config = c; this }
    def build(): WalrusLog = new WalrusLog(spark, dataDir, key, cons, config)
  }

  /** Namespace keys present under `root`: every child dir holding a
    * `commits` dir is an openable namespace (the layout `new WalrusLog`
    * creates). The cluster-level federation surface enumerates these. */
  def namespacesUnder(root: String): Seq[String] =
    listDir(Paths.get(root))
      .filter(p => Files.isDirectory(p.resolve("commits")))
      .map(_.getFileName.toString).sorted

  /** Key sanitization parity (reference: src/wal/paths.rs:12-36). */
  def sanitizeKey(key: String): String =
    key.map(c => if (c.isLetterOrDigit || c == '-' || c == '_') c else '_')

  private[log] def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish a NEW metadata file atomically and EXCLUSIVELY. POSIX
    * `rename` replaces an existing target even without REPLACE_EXISTING,
    * so exclusivity needs `link(2)`: the content lands under a
    * process-unique temp name and is hard-linked into place — atomic,
    * and it FAILS if the target already exists. Two live instances on
    * one namespace that race to the same commit id therefore fail-stop
    * (exactly one wins; the loser throws) instead of silently clobbering
    * the winner's commit — the reference fences writers with leases +
    * a CAS flag (distributed-walrus/src/bucket.rs:44-51,
    * src/wal/runtime/writer.rs:148); create-exclusive publication is the
    * single-filesystem analogue. */
  private[log] def writeAtomicNew(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(
      target.getFileName.toString + "." + java.util.UUID.randomUUID() + ".tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    try Files.createLink(target, tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CommitCollisionException(
          s"commit collision: $target was already published by another writer " +
            "on this namespace; re-open the log to observe its commit", e)
    } finally Files.deleteIfExists(tmp)
  }

  private[log] def listDir(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  // -------- manifest files (shared by recovery and the V2 source) --------

  /** Sorted `manifest-<id>.json` paths of a namespace's manifests dir. */
  private[graft] def manifestFiles(manifestsDir: Path): Seq[Path] =
    listDir(manifestsDir)
      .filter(_.getFileName.toString.matches("manifest-\\d{12}\\.json")).sorted

  private[graft] def manifestIdOf(p: Path): Option[Long] =
    p.getFileName.toString.stripPrefix("manifest-").stripSuffix(".json").toLongOption

  /** Commit id a `commits/<id>.json` path names (None for foreign files). */
  private[graft] def commitIdOf(p: Path): Option[Long] =
    p.getFileName.toString.stripSuffix(".json").toLongOption

  /** Parse the newest rolled-up manifest of a namespace, if any. A reader
    * that pairs this with the JSON tail (`commits/<id>.json` for
    * id > asOf) reconstructs exactly what parsing every commit file would
    * yield — the cold-start path for recovery and the V2 scan/stream.
    * Tolerates the kept-2 deletion race by falling back to the older file. */
  /** Parsed-manifest cache, process-wide. A manifest at 10⁵ live commits
    * is a multi-MB JSON whose json4s extraction costs SECONDS, and every
    * fresh batch scan re-reads the newest manifest (CommitScaleProbe:
    * ~2.5 s of a ~3 s plan at n=10⁵ was this parse). The key is the
    * CONTENT hash (128-bit SHA-256 prefix, plus path/length), so a
    * rewrite at the same name — writeManifest atomically replaces
    * `manifest-<asOf>.json`, and a vacuum can rewrite at an unchanged
    * asOf — cannot serve stale state short of a deliberate SHA-256
    * collision; the raw read (~tens of ms from page cache) is what the cache
    * does NOT avoid, only the parse. Bounded small (manifests per
    * namespace are capped at 2 and a process talks to few namespaces);
    * cleared wholesale on overflow. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Long), LogManifest]

  /** 128-bit content key (path, length, SHA-256 prefix halves) for the
    * parsed-manifest cache. Metadata correctness rides on this cache
    * never serving a stale parse, so a 32-bit hash (2⁻³² same-path
    * same-length collision) is not acceptable headroom — SHA-256's first
    * 128 bits make an accidental collision physically implausible, and
    * the hash cost (~1 GB/s) is noise next to the multi-MB JSON parse the
    * cache exists to skip (ADVICE r10). */
  private def manifestKey(p: Path, bytes: Array[Byte]): (String, Long, Long, Long) = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val bb = java.nio.ByteBuffer.wrap(d)
    (p.toString, bytes.length.toLong, bb.getLong(0), bb.getLong(8))
  }

  private[graft] def readNewestManifest(nsDir: Path): Option[LogManifest] =
    readNewestManifestKeyed(nsDir).map(_._1)

  /** `manifests/`-dir fast path under the same "racily clean" mtime
    * discipline as the commit-listing cache (see
    * WalrusLogSource.commitFiles): while the dir mtime is unchanged the
    * newest manifest cannot have changed (writeManifest lands a file and
    * prunes old ones — both rename/delete inside this dir), so the
    * multi-MB read + SHA-256 keying (~65 ms at 10⁵ live commits) is
    * skipped. Entries are only cached when the observed mtime was at
    * least a second old AND unchanged by a re-stat, so a same-tick
    * manifest write can never be masked. */
  private val manifestDirCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime,
      Option[(LogManifest, (String, Long, Long, Long))])]
  private val ManifestMtimeEpsilonMs = 1000L

  /** [[readNewestManifest]] plus the 128-bit content key the parse was
    * cached under — callers caching state DERIVED from the manifest (the
    * assembled covered-prefix, WalrusLogSource.assembleCommits) reuse
    * the key instead of re-hashing or comparing entry vectors. */
  private[graft] def readNewestManifestKeyed(
      nsDir: Path): Option[(LogManifest, (String, Long, Long, Long))] = {
    val dir = nsDir.resolve("manifests")
    val mtime =
      try { if (Files.exists(dir)) Files.getLastModifiedTime(dir) else null }
      catch { case _: java.io.IOException => null }
    if (mtime != null) {
      val hit = manifestDirCache.get(dir.toString)
      if (hit != null && hit._1 == mtime) return hit._2
    }
    val out = manifestFiles(dir).reverseIterator.flatMap { p =>
      try {
        val bytes = Files.readAllBytes(p)
        val key = manifestKey(p, bytes)
        Option(manifestCache.get(key)).map(m => (m, key)).orElse {
          val m = CommitCodec.readManifest(p, bytes)
          if (manifestCache.size >= 64) manifestCache.clear()
          manifestCache.put(key, m)
          Some((m, key))
        }
      }
      catch { case _: java.nio.file.NoSuchFileException => None }
    }.nextOption()
    if (mtime != null &&
        System.currentTimeMillis() - mtime.toMillis >= ManifestMtimeEpsilonMs) {
      val after =
        try Files.getLastModifiedTime(dir)
        catch { case _: java.io.IOException => null }
      if (after == mtime) {
        if (manifestDirCache.size >= 64) manifestDirCache.clear()
        manifestDirCache.put(dir.toString, (mtime, out))
      }
    }
    out
  }

  /** Registered-topic names straight from the persisted clean file — the
    * catalog's listing path (no SparkSession, no instance state; a fresh
    * read so one process sees topics another registered). */
  private[graft] def registeredTopicsOnDisk(nsDir: Path): Seq[String] = {
    implicit val formats: Formats = DefaultFormats
    val p = nsDir.resolve("topic_clean.json")
    if (!Files.exists(p)) Seq.empty
    else try org.json4s.jackson.JsonMethods
      .parse(new String(Files.readAllBytes(p), "UTF-8")).extract[CleanFile]
      .topics.collect { case (t, cs) if !cs.dropped => t }.toSeq
    catch { case _: Exception => Seq.empty }
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    // Two processes may race the same dead dir (e.g. the recovery sweep
    // vs a concurrent vacuum): deleteIfExists guards the delete step, but
    // the walk ITSELF can throw NoSuchFileException (wrapped in
    // UncheckedIOException from the stream) when entries vanish
    // mid-traversal — the other deleter is doing our work, so retry a
    // couple of times and then give up quietly if the race persists
    // (ADVICE r9: the race must never abort a log open/recovery). Real
    // IO failures (e.g. AccessDenied) still propagate.
    var attempts = 3
    while (attempts > 0) {
      attempts -= 1
      try {
        if (!Files.exists(p)) return
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally s.close()
        return
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
        case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
      }
    }
  }
}

/** Handle for one transactional produce session (see
  * [[WalrusLog.beginTxn]]). Single-writer per handle; `append` may be
  * called any number of times before exactly one `commit` or `abort`.
  *
  * Cross-append ordering: within the committed batch, entries order by
  * (append call index, `seqCol`) per topic — encoded as one composite
  * long (`call << 40 | seq`), so each append's `seqCol` values must lie
  * in `[0, 2^40)` (violations raise at stage time, before anything can
  * publish). The reference's atomic batch (writer.rs:135-341) gives
  * all-or-nothing for ONE call; this extends the same visibility
  * guarantee across many calls with storage-backed staging.
  */
final class WalrusTxn private[log] (log: WalrusLog, val txnId: String) {
  import org.apache.spark.sql.Column

  private val stageDir: Path = log.txnStageRoot.resolve(s"txn-$txnId")
  private var parts = 0L
  @volatile private var status: String = "open"

  def state: String = status
  def isOpen: Boolean = status == "open"

  /** Stage one append (columns `topic: STRING`, `value: BINARY`; per-call
    * order from `seqCol`). Data is written durably now; visibility waits
    * for [[commit]]. */
  def append(input: DataFrame, seqCol: Column): this.type = {
    require(isOpen, s"transaction $txnId is $status")
    val seq = seqCol.cast(LongType)
    val guarded = when(seq >= 0L && seq < WalrusTxn.MaxSeqPerAppend, seq)
      .otherwise(raise_error(concat(
        lit(s"txn $txnId: seq out of [0, 2^40): "), seq.cast(StringType))))
    input.select(
        col("topic").cast(StringType).as("topic"),
        col("value").cast(BinaryType).as("value"),
        (lit(parts * WalrusTxn.MaxSeqPerAppend) + guarded).as("_seq"))
      .write.mode(SaveMode.Append).parquet(stageDir.toString)
    parts += 1
    this
  }

  /** Publish every staged append as ONE atomically visible commit and
    * dissolve the spool. No-op empty transaction returns the empty
    * commit record. */
  def commit(ingestTs: Timestamp = new Timestamp(System.currentTimeMillis()))
      : CommitRecord = {
    require(isOpen, s"transaction $txnId is $status")
    status = "committed"
    if (parts == 0L) return CommitRecord(-1L, ingestTs.getTime, Map.empty)
    val staged = log.spark.read.parquet(stageDir.toString)
    try log.appendDF(staged, Some(col("_seq")), ingestTs)
    finally WalrusLog.deleteRecursively(stageDir)
  }

  /** Drop the transaction: staged data is deleted and can never become
    * visible. Idempotent on an already-aborted handle. */
  def abort(): Unit = {
    require(status != "committed", s"transaction $txnId already committed")
    status = "aborted"
    WalrusLog.deleteRecursively(stageDir)
  }
}

object WalrusTxn {
  /** Per-append seq domain: 2^40 values — composite ordering key is
    * `appendIndex * 2^40 + seq`, overflow-safe below ~8M appends/txn. */
  val MaxSeqPerAppend: Long = 1L << 40
}
