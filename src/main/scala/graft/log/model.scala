package graft.log

import java.sql.Timestamp

/** One log entry — the only value type in the reference engine
  * (reference: src/wal/block.rs:7-10). `checksum` is FNV-1a-64 of `value`
  * (reference: src/wal/config.rs:70-80).
  */
case class WalrusEntry(
    topic: String,
    offset: Long,
    ts: Timestamp,
    value: Array[Byte],
    checksum: Long)

/** Delivery semantics for consumer cursors
  * (reference: src/wal/runtime/walrus.rs:20-24).
  *
  *  - [[ReadConsistency.StrictlyAtOnce]]: the cursor is persisted after every
  *    consumed read and the log's cursor lock is held across read, verify
  *    and cursor persist, so each entry is delivered to exactly one caller
  *    (reference: src/wal/runtime/walrus_read.rs:861-869). The cursor lock
  *    is not the commit monitor: a consume reads the published catalog
  *    view and does not wait for an append, an `appendDF` job or a
  *    `compact()`.
  *  - [[ReadConsistency.AtLeastOnce]]: the cursor is persisted every
  *    `persistEvery` consumed entries; a crash replays at most that many
  *    (reference: src/wal/runtime/walrus_read.rs:347-366). Reads hold no
  *    lock across their IO, so concurrent consumers of one group may
  *    receive the same entry.
  */
sealed trait ReadConsistency
object ReadConsistency {
  case object StrictlyAtOnce extends ReadConsistency
  final case class AtLeastOnce(persistEvery: Int = 5000) extends ReadConsistency
}

/** Engine limits and accounting constants, mirroring the reference where a
  * value is externally observable.
  *
  * @param maxBatchEntries  hard cap on entries per atomic batch append and
  *                         per batch read (reference: src/wal/config.rs:42-43)
  * @param maxBatchBytes    hard cap on total payload bytes per atomic batch
  *                         (reference: src/wal/config.rs:42-43 — 10 GiB)
  * @param maxSegmentEntries segment rollover threshold
  *                         (reference: distributed-walrus/src/monitor.rs:16-24)
  * @param metaOverheadBytes per-entry metadata size used for byte-offset
  *                         addressing and topic-size accounting parity
  *                         (reference: src/wal/config.rs:40 — 256 B prefix)
  * @param verifyChecksums  verify FNV-1a checksums on the consume path
  *                         (reference: src/wal/block.rs:117-129)
  */
final case class LogConfig(
    maxBatchEntries: Int = 2000,
    maxBatchBytes: Long = 10L * 1024 * 1024 * 1024,
    maxSegmentEntries: Long = 1000000L,
    metaOverheadBytes: Int = 256,
    verifyChecksums: Boolean = true,
    /** Parquet codec for data files. `uncompressed` is the closest analogue
      * of the reference's raw-byte blocks and is fastest for incompressible
      * payloads; keep snappy/zstd for compressible text topics. */
    compression: String = "snappy",
    /** Floor on ingest output-file size: small batches coalesce writers so
      * files aren't confetti; large batches keep full write parallelism
      * (their consolidation to ~1 GB files — reference src/wal/paths.rs:46-62
      * — is `compact()`'s job, not the ingest hot path's). */
    minFileBytes: Long = 8L << 20,
    /** Parquet dictionary encoding. Worth disabling for opaque/unique
      * binary payloads: dictionary attempts cost write CPU (~15% at 1M
      * rows) and overflow to plain anyway. */
    dictionaryEncoding: Boolean = true,
    /** Commits whose input is estimated at or below this take the
      * single-job ingest path: hash-partition by topic (each topic lands
      * wholly in one task, so dense offsets are assignable locally from
      * the catalog base) with per-topic stats folded into accumulators on
      * the write job — 1 Spark job instead of 3 (range sampling + count
      * pass + write). Capped small so the per-topic-per-task layout can
      * never bottleneck a large commit: big commits keep the range
      * shuffle, which spreads a hot topic over many partitions. */
    smallCommitMaxBytes: Long = 256L << 20,
    /** Max open output files per ingest write task; > 0 lets the
      * partitionBy write skip its re-sort of the stream by keeping that
      * many writers open (tasks touching more topics than this fall back
      * to sort-based writing, handled by Spark). The range shuffle bounds
      * topics-per-task, so the default comfortably covers it; measured
      * ~15% faster than sort-based on the bulk workload. */
    concurrentWriters: Int = 64,
    /** Write a rolled-up manifest (`manifests/manifest-<id>.json`,
      * aggregating every commit record + vacuumed flag) every this many
      * commits — the Delta-checkpoint / Raft-snapshot analogue (reference:
      * distributed-walrus/src/metadata.rs:115-189 snapshot/restore). Cold
      * starts (log recovery, a fresh V2 scan or stream) then read ONE
      * manifest plus the JSON tail instead of parsing every commit file —
      * at 10⁵-10⁶ commits the difference between O(N) driver JSON parses
      * and O(K). 0 disables. */
    manifestEveryCommits: Int = 64,
    /** Cap on retained HAND-tagged reclaimed-commit idempotence tags
      * (sink-epoch tags collapse to one entry per query and never grow;
      * manual tags must be kept verbatim — ADVICE r8 — so a workload that
      * mints one unique tag per batch job would otherwise grow driver
      * memory and every manifest monotonically with each vacuumed tagged
      * commit, ADVICE r9). When exceeded, the tags with the LOWEST
      * dropped-commit ids are evicted: an evicted tag predates the `cap`
      * most recent hand-tagged drops, far beyond any legitimate replay
      * window (a replay that old re-commits rows whose originals were
      * deliberately reclaimed — retention already made that data
      * unserveable). 0 disables eviction (unbounded, pre-r10 behavior). */
    maxIrregularDroppedTags: Int = 100000,
    /** Bounded retries when a commit publication collides with another
      * live writer on the same namespace (reference: the losing writer
      * re-syncs with the controller and retries ×2, distributed-walrus/
      * src/controller/mod.rs:165-187, 321-371). On collision the loser
      * folds the winner's commits into its state (resync), re-sequences
      * offsets, and re-runs the append; past the budget it fail-stops
      * exactly as before. 0 restores pure fail-stop. */
    commitCollisionRetries: Int = 2,
    /** Minimum age before recovery sweeps an abandoned staging dir
      * (`batch=<id>.stage-*`) or transaction spool (`txns/txn-*`). Age is
      * the NEWEST mtime anywhere in the dir tree — an in-flight writer
      * keeps touching files inside, so a live stage can never look stale
      * while a crashed writer's goes cold within one write duration.
      * Without the gate, every open (including read-only opens and the
      * `walrus_namespaces` admin TVF, which opens every namespace under a
      * root) would race a live writer's phase-2 write and delete its
      * in-flight staging dir (ADVICE r12: the common outcome is a generic
      * IO failure instead of a retryable collision; a narrow interleaving
      * could publish a partially-swept stage — silent data loss). Default
      * 15 min — comfortably above any single batch-write duration. 0
      * restores the unconditional sweep (single-writer deployments). */
    staleStageSweepMs: Long = 15L * 60 * 1000,
    /** How long a losing writer waits out another writer's claimed-but-
      * unpublished batch dir during collision resync before fail-stopping
      * (the claim→publish gap; the claimant's per-topic ranges are
      * unknowable until its commit file lands, so retrying early would
      * re-sequence over them). The reference's equivalent timeouts are
      * configurable (15 s RPC timeout, distributed-walrus/src/controller/
      * mod.rs:321-371). The wait polls on the instance monitor via
      * `wait(10)` — RELEASING it each tick, so a crashed claimant stalls
      * only the resyncing thread, never the instance's other threads. */
    claimGapWaitMs: Long = 30000L)

/** One commit with its vacuumed flag: the shape of a `commits/<id>.json`
  * file and of each entry of the rolled-up manifest (see [[CommitCodec]]). */
final case class ManifestEntry(id: Long, tsMillis: Long,
    topics: Map[String, TopicRange], tag: Option[String],
    replaces: Option[Seq[Long]], vacuumed: Boolean) {
  def record: CommitRecord = CommitRecord(id, tsMillis, topics, tag, replaces)
}

/** One sealed segment of a topic snapshot (ordered; LinkedHashMap parity). */
final case class SegmentSnap(seg: Long, n: Long, leader: String)

/** Serialized [[TopicState]] — what a manifest recovery restores instead
  * of replaying per-commit `applyAppend` transitions. Carrying the STATE in
  * the snapshot (not just the log entries) is what lets the manifest drop
  * reclaimed entries entirely: the Raft snapshot-then-truncate semantics
  * (reference: distributed-walrus/src/metadata.rs:115-189 apply/snapshot/
  * restore), where our previous manifest only accelerated reads. */
final case class TopicSnapshot(topic: String, nextOffset: Long,
    bytesTotal: Long, currentSegment: Long, lastSealedEntryOffset: Long,
    segments: Seq[SegmentSnap], cleanGeneration: Long, clean: Boolean)

/** Rolled-up commit-log manifest covering every commit with id ≤ `asOf`.
  * `entries` holds only the LIVE covered commits (neither vacuumed nor
  * replaced — the ones whose data directories still exist); reclaimed
  * commits are represented by their absence, `state` carries the
  * fully-rolled-up topic states, and the scalar counters preserve the
  * metrics a replay would have produced. Readers that need positional
  * alignment (the V2 source's one-element-per-commit-file contract)
  * synthesize tombstone placeholders for covered ids missing from
  * `entries`. `droppedTags` keeps the epoch-idempotence tags of dropped
  * commits so a streaming-sink replay of a reclaimed epoch stays a no-op. */
final case class LogManifest(asOf: Long, entries: Seq[ManifestEntry],
    state: Seq[TopicSnapshot], publishedCount: Long, vacuumedCount: Long,
    droppedTags: Map[String, Long])

/** A concurrent atomic batch append was rejected — parity with the
  * reference's `ErrorKind::WouldBlock` on its `is_batch_writing` CAS flag
  * (reference: src/wal/runtime/writer.rs:135-165).
  */
final class WouldBlockException(msg: String) extends RuntimeException(msg)

/** Another live writer on the same namespace claimed this batch dir or
  * commit id first. Subclasses IllegalStateException so pre-retry callers
  * that caught the fail-stop keep working; [[graft.log.WalrusLog]] catches
  * it to resync + retry within [[LogConfig.commitCollisionRetries]]. */
final class CommitCollisionException(msg: String, cause: Throwable = null)
  extends IllegalStateException(msg, cause)

/** Payload checksum mismatch on read — parity with the reference's
  * `InvalidData` (reference: src/wal/runtime/walrus_read.rs:1052-1057). */
final class InvalidDataException(msg: String) extends RuntimeException(msg)

// ---- persisted metadata records (JSON via json4s) ----

/** Per-topic offset/byte range added by one committed batch, the
  * inclusive event-time bounds of its entries (`ts_us` micros) and its
  * EXACT delivered row count. An ingest commit stamps every entry with the
  * commit timestamp, so both bounds equal `tsMillis * 1000`, and assigns
  * offsets contiguously, so `rows = end - start`. A compaction commit
  * records min/max of its sources' bounds and the sum of their `rows`:
  * consumption-based vacuum can reclaim a mid-log commit and a later
  * compact() merges the topic range ACROSS that hole, so its
  * `end - start` is only an upper bound. Keeping both facts exact is what
  * lets TIME pruning, metadata MIN/MAX(ts_us) and COUNT, and row-covering
  * LIMIT walks trust metadata on compacted logs (the reference's sealed
  * segments record exact entry counts, distributed-walrus/src/
  * metadata.rs:19-31). */
final case class TopicRange(start: Long, end: Long, bytes: Long,
    tsUsMin: Long, tsUsMax: Long, rows: Long)

/** One entry of the atomic commit log: batch `id` became visible, adding
  * `topics` ranges. Replaces the reference's "offset published only after
  * fsync" visibility rule (reference: src/wal/runtime/writer.rs:135-341) with
  * a file-commit protocol. */
/** `replaces` marks a compaction commit: the batch carries the same rows
  * (same offsets) as the listed source batches rewritten into fewer, larger
  * files; it adds no new entries. */
final case class CommitRecord(id: Long, tsMillis: Long,
    topics: Map[String, TopicRange], tag: Option[String] = None,
    replaces: Option[Seq[Long]] = None)

/** Persisted consumer cursors, keyed group -> topic -> next offset to read.
  * The reference's shared per-topic cursor is group "" here
  * (reference: src/wal/runtime/index.rs:7-10). */
final case class CursorFile(groups: Map[String, Map[String, Long]])

/** Persisted per-producer sequence high watermarks — the state behind
  * [[WalrusLog.appendDFIdempotent]]. The reference's atomic batch is
  * all-or-nothing within one attempt (src/wal/runtime/writer.rs:135-341)
  * but has no cross-retry dedup; Kafka's idempotent producer is the public
  * analogue of this contract. */
final case class ProducerFile(producers: Map[String, Long])

/** Topic clean/dirty markers with generation counters
  * (reference: src/wal/runtime/topic_clean.rs:12-257). */
/** One topic's persisted clean marker. `dropped = true` is a TOMBSTONE
  * (catalog DROP TABLE): the topic is unregistered, and the generation
  * records the drop so a stale instance's lower-generation live entry
  * cannot resurrect it in the [[graft.log.WalrusLog]] persistClean merge.
  * Absent in pre-tombstone files → default false (live). */
final case class CleanState(generation: Long, clean: Boolean,
    dropped: Boolean = false)
final case class CleanFile(topics: Map[String, CleanState])

/** In-memory per-topic state — the driver-side analogue of the reference's
  * Raft-replicated `TopicState`
  * (reference: distributed-walrus/src/metadata.rs:19-31). */
final class TopicState {
  var nextOffset: Long = 0L            // dense; also the total appended count
  var bytesTotal: Long = 0L            // Σ(payload + metaOverhead)
  var currentSegment: Long = 0L
  var lastSealedEntryOffset: Long = 0L // Σ sealed segment counts
  val sealedSegments = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
  val segmentLeaders = scala.collection.mutable.LinkedHashMap.empty[Long, String]
  var cleanGeneration: Long = 0L
  var clean: Boolean = true
  def entriesInOpenSegment: Long = nextOffset - lastSealedEntryOffset

  /** The pure append+rollover transition (the TLA+ `WalAppend`/`Rollover`
    * actions, reference DistributedWalrus.tla:72-110 and monitor.rs:15-24):
    * advance the dense offset to `endOffset`, account the stream bytes,
    * and — when the open segment reached `maxSegmentEntries` — seal it
    * with its EXACT accumulated count (which may exceed the threshold,
    * as in the reference where the monitor seals whatever accumulated)
    * and rotate the segment leader. Driven by both the commit path
    * (WalrusLog.applyCommit, including startup replay) and the
    * segment-invariant property suite, so the spec'd transition IS the
    * production transition. */
  def applyAppend(endOffset: Long, streamBytes: Long,
      maxSegmentEntries: Long, leaderFor: Long => String): Unit = {
    nextOffset = endOffset
    bytesTotal += streamBytes
    cleanGeneration += 1
    clean = false
    if (entriesInOpenSegment >= maxSegmentEntries) {
      val count = entriesInOpenSegment
      sealedSegments(currentSegment) = count
      segmentLeaders(currentSegment) = leaderFor(currentSegment)
      lastSealedEntryOffset += count
      currentSegment += 1
    }
  }
}
