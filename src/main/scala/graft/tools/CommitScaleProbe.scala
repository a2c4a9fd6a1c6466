package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.log.{CommitCodec, CommitRecord, LogManifest, ManifestEntry, SegmentSnap,
  TopicRange, TopicSnapshot}

/** Driver-side planner scaling probe (VERDICT r9 item 3): the 100 TB
  * posture's driver risk is COMMIT COUNT, not row count — a namespace
  * ingesting a commit every 200 ms for a week holds ~3M commit records,
  * and every batch plan walks the commit list. This probe synthesizes
  * 10⁴-10⁵ metadata-only commit records (no data files — planning cost is
  * what's measured; trimmed scans of missing dirs plan zero partitions)
  * and times the driver-side paths a plan exercises:
  *
  *   - listCommits (manifest-accelerated and raw-JSON cold starts)
  *   - plain LIMIT prefix trimming
  *   - offset-TopN per-topic trimming
  *   - ts-TopN threshold trimming (the r10 sort-by-bounds walk)
  *   - MIN/MAX(ts_us) metadata aggregate (fromMetadata)
  *   - COUNT(*) metadata aggregate
  *
  * Usage: runMain graft.tools.CommitScaleProbe [counts...] (default
  * 10000 100000). Prints one line per (mode, count, path) with wall ms;
  * results recorded in BASELINE.md. */
object CommitScaleProbe {
  private val T0 = 1704067200000L
  private val Topics = 4

  /** Write `n` synthetic ingest commit JSONs (4 topics × 100 rows each,
    * point ts ascending 1 s per commit) under a fresh namespace dir. */
  private[tools] def synthesize(n: Int, withManifest: Boolean): Path = {
    val root = Files.createTempDirectory(s"graft-scale-$n-")
    val ns = root.resolve("default")
    val commitsDir = ns.resolve("commits")
    Files.createDirectories(commitsDir)
    var i = 0
    val records = new scala.collection.mutable.ArrayBuffer[CommitRecord](n)
    while (i < n) {
      val ts = T0 + i * 1000L
      val topics = (0 until Topics).map { t =>
        s"t$t" -> TopicRange(i * 100L, (i + 1) * 100L, 5000L, ts * 1000L, ts * 1000L, 100L)
      }.toMap
      val rec = CommitRecord(i.toLong, ts, topics)
      records += rec
      CommitCodec.publish(commitsDir, rec)
      i += 1
    }
    if (withManifest) {
      val manifestsDir = ns.resolve("manifests")
      Files.createDirectories(manifestsDir)
      val entries = records.map(r =>
        ManifestEntry(r.id, r.tsMillis, r.topics, r.tag, r.replaces, vacuumed = false)).toSeq
      val state = (0 until Topics).map(t => TopicSnapshot(s"t$t", n * 100L,
        n * 5000L, 0L, 0L, Seq.empty[SegmentSnap], n.toLong, clean = false))
      CommitCodec.writeManifest(manifestsDir.resolve(f"manifest-${n - 1}%012d.json"),
        LogManifest((n - 1).toLong, entries, state, n.toLong, 0L, Map.empty))
    }
    root
  }

  private def timeMs[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e6, a)
  }

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10000, 100000)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    for (n <- counts; manifest <- Seq(false, true)) {
      val mode = if (manifest) "manifest" else "rawjson"
      val root = synthesize(n, manifest)
      val ns = root.resolve("default")
      def df = spark.read.format("walruslog").option("path", root.toString).load()

      // cold listing (fresh JVM state per (mode, n) only for the FIRST
      // call — subsequent queries re-list per scan, which is the real
      // per-plan cost at steady state)
      val (listMs, listed) = timeMs(graft.sources.WalrusLogSource.listCommits(ns))
      require(listed.size == n, s"listed ${listed.size} != $n")

      def probe(label: String)(q: => Unit): Unit = {
        timeMs(q) // warm codegen/plan-rule caches once
        val samples = (1 to 3).map(_ => timeMs(q)._1)
        println(f"[scale] n=$n%6d mode=$mode%-8s $label%-14s " +
          f"min=${samples.min}%8.1f ms  med=${samples.sorted.apply(1)}%8.1f ms")
      }

      println(f"[scale] n=$n%6d mode=$mode%-8s listCommits    " +
        f"cold=$listMs%8.1f ms")
      probe("limit")(df.limit(10).collect())
      probe("topn_offset")(df.orderBy(col("offset").desc).limit(10).collect())
      probe("topn_ts")(df.orderBy(col("ts_us").desc).limit(10).collect())
      probe("agg_ts")(df.agg(min("ts_us"), max("ts_us")).collect())
      probe("count")(df.agg(count(lit(1))).collect())

      // clean up the synthetic tree (10⁵ files is inode pressure)
      graft.log.WalrusLog.deleteRecursively(root)
    }
    spark.stop()
  }
}
