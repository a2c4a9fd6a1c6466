package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-side scaling probe (VERDICT r12 next-round #2): the 100 TB posture
  * of the heavy operator families was design-argued (stop caps, bucketed
  * joins, plan contracts) but never MEASURED above sf0.1 — the driver
  * provides no sf1 testdata, so this probe synthesizes 1×/3×/10× of the
  * sf0.1 `documents`/`embeddings`/`events` in memory and times the five
  * heaviest operators on each, recording wall seconds, shuffle-write
  * bytes, and output rows per scale. Near-linear growth in wall AND
  * shuffle is the pass condition; a superlinear slope means a cap is not
  * holding and names exactly which operator to fix.
  *
  * Scaled copies are NOT byte-identical replicas — that would measure a
  * fixture artifact (every copy a near-dup of every other, pair counts
  * growing quadratically by construction). Each copy c perturbs content
  * deterministically so copies model INDEPENDENT corpus growth:
  *   - documents: ids offset by c·stride; text letter-rotated per copy
  *     (`translate` over 7 common letters), changing most shingles.
  *   - embeddings: ids offset; every component shifted by 0.0173·c (new
  *     directions, same distribution shape).
  *   - events relation: user ids AND item ids offset per copy — the graph
  *     grows as c disjoint components, the independent-growth model.
  *
  * Usage: runMain graft.tools.DataScaleProbe [sfDir] [scales...]
  * (defaults /root/testdata/sf0.1 and 1 3 10). One line per (op, scale);
  * slopes are recorded in BASELINE.md. */
object DataScaleProbe {

  private val shuffleWrite = new AtomicLong(0L)

  private def timed(spark: SparkSession)(body: => Long): (Double, Long, Long) = {
    // listener events are posted async: settle before reading the counter
    Thread.sleep(1500)
    val s0 = shuffleWrite.get()
    val t0 = System.nanoTime()
    val rows = body
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500)
    (wall, shuffleWrite.get() - s0, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 3, 10)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleWrite.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rel0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
    val docStride = docs0.agg(max("doc_id")).head().getLong(0) + 1
    val vecStride = emb0.agg(max("vec_id")).head().getLong(0) + 1
    val userStride = rel0.agg(max("user_id")).head().getLong(0) + 1
    val itemStride = rel0.agg(max("item")).head().getLong(0) + 1

    val alpha = "etaoins"
    def rot(c: Int): String = {
      val r = c % alpha.length
      alpha.drop(r) + alpha.take(r)
    }
    def scaledDocs(m: Int): DataFrame =
      (0 until m).map { c =>
        docs0.select((col("doc_id") + c * docStride).as("doc_id"),
          translate(col("text"), alpha, rot(c)).as("text"))
      }.reduce(_ unionAll _)
    def scaledEmb(m: Int): DataFrame =
      (0 until m).map { c =>
        emb0.select((col("vec_id") + c * vecStride).as("vec_id"),
          expr(s"transform(embedding, x -> CAST(x + $c * 0.0173 AS FLOAT))")
            .as("embedding"))
      }.reduce(_ unionAll _)
    def scaledRel(m: Int): DataFrame =
      (0 until m).map { c =>
        rel0.select((col("user_id") + c * userStride).as("user_id"),
          (col("item") + c * itemStride).as("item"))
      }.reduce(_ unionAll _)

    case class Op(name: String, input: Int => DataFrame, run: DataFrame => Long)
    import graft.operators.{Dedup, Graph, Similarity}
    val ops = Seq(
      Op("dedup_minhash_lsh_pairs", scaledDocs,
        d => Dedup.minHashLshPairs(d, "doc_id", "text",
          k = 5, bands = 4, rowsPerBand = 4).count()),
      Op("dedup_lsh_star64", scaledDocs, // the clustering-path fix: star
        d => Dedup.minHashLshPairs(d, "doc_id", "text", // pairs for buckets
          k = 5, bands = 4, rowsPerBand = 4,            // past 64 — O(B)
          starBucketThreshold = Some(64)).count()),     // not O(B²)
      Op("dedup_winnow_pairs", scaledDocs,
        d => Dedup.winnowPairs(d, "doc_id", "text",
          k = 8, w = 12, minShared = 3L, maxDocFreq = Some(50)).count()),
      Op("sim_knn_lexical", scaledDocs,
        d => Dedup.lexicalKnn(d, "doc_id", "text",
          k = 8, topK = 3, maxDocFreq = 50).count()),
      Op("sim_ivf_search", scaledEmb,
        e => Similarity.ivfSearch(e.where(col("vec_id") < 20), e,
          "vec_id", "embedding", nCentroids = 8, k = 5).count()),
      Op("graph_cooccurrence", scaledRel,
        r => Graph.cooccurrence(r, "user_id", "item",
          minShared = 2L, maxUserDegree = 1000).count()))

    println("[dscale] op, scale, input_rows, wall_s, shuffle_mb, out_rows")
    val results = scala.collection.mutable.Map
      .empty[(String, Int), (Double, Long)]
    for (op <- ops) {
      // warm pass at 1x: codegen + plan-rule caches out of the measurement
      op.run(op.input(1))
      for (m <- scales) {
        val in = op.input(m).cache()
        val inRows = in.count() // materialize OUTSIDE the timed section
        val (wall, shuffle, rows) = timed(spark)(op.run(in))
        results((op.name, m)) = (wall, shuffle)
        println(f"[dscale] ${op.name}%-24s x$m%-3d in=$inRows%9d " +
          f"wall=$wall%7.2f s  shuffle=${shuffle / 1e6}%9.1f MB  out=$rows%9d")
        in.unpersist(blocking = true)
      }
    }
    // slope summary: ratio vs the linear expectation (ratio/scale ~ 1.0
    // means linear; >> 1 means a cap is not holding)
    println("[dscale] --- slopes (value@x / value@1, ideal = scale) ---")
    for (op <- ops; m <- scales.filter(_ > 1)) {
      val (w1, s1) = results((op.name, 1))
      val (wm, sm) = results((op.name, m))
      println(f"[dscale] ${op.name}%-24s x$m%-3d wall_ratio=${wm / w1}%6.2f " +
        f"(ideal $m)  shuffle_ratio=${if (s1 == 0) 0.0 else sm.toDouble / s1}%6.2f")
    }
    // machine-readable artifact (VERDICT r13 item 1): the driver cannot
    // run a 10× probe itself, so the slope table lands in SCALING.json
    // next to the bench outputs, stamped with the code revision it
    // measured so a stale artifact is detectable
    val rev = try {
      val pr = new ProcessBuilder("git", "rev-parse", "--short", "HEAD").start()
      val out = new String(pr.getInputStream.readAllBytes()).trim
      pr.waitFor(); out
    } catch { case _: Throwable => "unknown" }
    def r2(d: Double): Double = math.rint(d * 100) / 100
    val opsJson = ops.map { op =>
      val rows = scales.map { m =>
        val (w, sh) = results((op.name, m))
        s"""{"scale":$m,"wall_s":${r2(w)},"shuffle_mb":${sh / 1000000}}"""
      }.mkString("[", ",", "]")
      val (w1, s1) = results((op.name, 1))
      val (wm, sm) = results((op.name, scales.max))
      s""""${op.name}":{"runs":$rows,"wall_ratio_at_${scales.max}x":${r2(wm / w1)},""" +
        s""""shuffle_ratio_at_${scales.max}x":${
          if (s1 == 0) 0.0 else r2(sm.toDouble / s1)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"probe":"DataScaleProbe","git_rev":"$rev","sf_dir":"$sfDir",""" +
      s""""scales":${scales.mkString("[", ",", "]")},"ideal_ratio":${scales.max},""" +
      s""""ops":$opsJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.json"),
      json.getBytes("UTF-8"))
    println(s"[dscale] wrote SCALING.json (rev $rev)")
    spark.stop()
  }
}
