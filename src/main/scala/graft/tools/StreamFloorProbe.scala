package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Stream-family floor certification (VERDICT r12 next-round #3): the 35
  * stream_* queries cost ~76 s of the sf0.1 bench. This probe splits every
  * query's wall into (query start/stop lifecycle, per-trigger execution)
  * via a session-wide StreamingQueryListener, and measures the same drive
  * machinery's ZERO-WORK cost — a minimal 3-file stateful pipeline through
  * the identical memory-sink AvailableNow scaffolding — as the box's floor
  * constants. floor_est(q) = start_stop_floor + n_triggers(q) ×
  * trigger_floor; wall above floor_est is data work OR shaveable overhead,
  * so Σ(wall − floor_est)/Σwall is a conservative UPPER bound on the
  * shaveable fraction (it counts the actual computation as shaveable).
  *
  * Context from the r12 knob probes (SparkEntry.scala streamCheckpointDir
  * note): RocksDB+changelog ~25% slower at toy state, 32→8 state-store
  * instances cut commitTimeMs 2.7 s → 0.33 s with NO wall change, tmpfs
  * vs ext4 checkpoints moved nothing — the floor is scheduling + sink
  * collect, not state IO.
  *
  * Usage: runMain graft.tools.StreamFloorProbe [sfDir]. Results recorded
  * as a floor table in BASELINE.md. */
object StreamFloorProbe {

  // per-query progress aggregates, attributed by runId registration order
  private case class Agg(var triggers: Int = 0, var triggerMs: Long = 0L,
      var addBatchMs: Long = 0L, var walCommitMs: Long = 0L,
      var commitOffsetsMs: Long = 0L,
      var planMs: Long = 0L, var stateCommitMs: Long = 0L,
      var inputRows: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val current = new java.util.concurrent.atomic.AtomicReference[Agg](new Agg)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val a = current.get()
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        a.synchronized {
          a.triggers += 1
          a.triggerMs += d("triggerExecution")
          a.addBatchMs += d("addBatch")
          a.walCommitMs += d("walCommit")
          a.commitOffsetsMs += d("commitOffsets")
          a.planMs += d("queryPlanning")
          a.stateCommitMs += p.stateOperators
            .map(_.commitTimeMs).sum
          a.inputRows += p.numInputRows
        }
      }
    })

    val streamQueries = graft.SparkEntry.queries.keys.toSeq
      .filter(_.startsWith("stream_")).sorted

    // warm EXACTLY like Bench: every stream query once at sf0.001 —
    // codegen + JIT out of the measurement
    val warmDir = "/root/testdata/sf0.001"
    streamQueries.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    graft.SparkEntry.queries("stream_outer_join")(spark, sfDir).count() // page sf0.1 fixtures

    // ---- zero-work reference drive: the same scaffolding, trivial data.
    // 3 one-row parquet files → maxFilesPerTrigger=1 → 3 triggers of a
    // stateful (groupBy) pipeline into a memory sink, complete mode.
    val floorDir = java.nio.file.Files.createTempDirectory("graft-floor-")
    (0 until 3).foreach { i =>
      spark.range(i, i + 1).toDF("v")
        .coalesce(1).write.parquet(s"$floorDir/f$i")
    }
    val floorIn = spark.read.parquet(s"$floorDir/f0").schema
    def floorDrive(): Double = {
      // match the deployed drives' right-sized state parallelism (the
      // runStreamToMemory 8-partition knob) so floor_est is computed
      // against the same machinery the queries actually run on
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(floorIn)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$floorDir/f*")
        .groupBy(col("v") % 2).agg(count(lit(1)))
      val qn = s"floor_${System.nanoTime()}"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-floor-ck-")
      try {
        val q = src.writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(qn).collect()
      } finally {
        spark.catalog.dropTempView(qn)
        graft.log.WalrusLog.deleteRecursively(ckpt)
      }
      (System.nanoTime() - t0) / 1e9
    }
    floorDrive() // warm the reference drive itself
    val floorRuns = (1 to 5).map { _ =>
      current.set(new Agg)
      val wall = floorDrive()
      Thread.sleep(300) // listener drain
      (wall, current.get())
    }
    val floorWall = floorRuns.map(_._1).min
    val floorAgg = floorRuns.minBy(_._1)._2
    val triggerFloorMs = floorAgg.triggerMs.toDouble / floorAgg.triggers
    val startStopFloorS = floorWall - floorAgg.triggerMs / 1e3
    println(f"[floor] zero-work reference: wall=$floorWall%.2f s, " +
      f"${floorAgg.triggers} triggers, trigger_floor=$triggerFloorMs%.0f ms, " +
      f"start_stop_floor=$startStopFloorS%.2f s")

    // ---- per-query decomposition at sf0.1
    println("[floor] query, wall_s, n_trig, trig_s, addBatch_s, walCommit_s, " +
      "commitOffsets_s, plan_s, stateCommit_s, start_stop_s, floor_est_s, above_floor_s")
    var sumWall = 0.0; var sumFloor = 0.0
    val family = new Agg
    val rows = mutable.ArrayBuffer.empty[String]
    for (q <- streamQueries) {
      current.set(new Agg)
      val t0 = System.nanoTime()
      val n = try graft.SparkEntry.queries(q)(spark, sfDir).count()
        catch { case e: Throwable => println(s"[floor] $q FAILED: $e"); -1L }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val a = current.get()
      val startStop = wall - a.triggerMs / 1e3
      val floorEst = startStopFloorS + a.triggers * triggerFloorMs / 1e3
      val above = math.max(0.0, wall - floorEst)
      sumWall += wall; sumFloor += math.min(wall, floorEst)
      val line = f"[floor] $q%-28s wall=$wall%6.2f trig_n=${a.triggers}%2d " +
        f"trig=${a.triggerMs / 1e3}%5.2f add=${a.addBatchMs / 1e3}%5.2f " +
        f"wal=${a.walCommitMs / 1e3}%5.2f offs=${a.commitOffsetsMs / 1e3}%5.2f " +
        f"plan=${a.planMs / 1e3}%5.2f " +
        f"state=${a.stateCommitMs / 1e3}%5.2f ss=$startStop%5.2f " +
        f"floor=$floorEst%5.2f above=$above%5.2f rows=$n%d"
      println(line)
      rows += line
      family.triggers += a.triggers; family.triggerMs += a.triggerMs
      family.addBatchMs += a.addBatchMs; family.walCommitMs += a.walCommitMs
      family.commitOffsetsMs += a.commitOffsetsMs
      family.stateCommitMs += a.stateCommitMs
    }
    println(f"[floor] PHASES: triggers=${family.triggers} " +
      f"trigger=${family.triggerMs / 1e3}%.2f s addBatch=${family.addBatchMs / 1e3}%.2f s " +
      f"walCommit=${family.walCommitMs / 1e3}%.2f s " +
      f"commitOffsets=${family.commitOffsetsMs / 1e3}%.2f s " +
      f"stateCommit=${family.stateCommitMs / 1e3}%.2f s")
    println(f"[floor] FAMILY: wall=$sumWall%.1f s, floor_est=$sumFloor%.1f s " +
      f"(${100 * sumFloor / sumWall}%.0f%% of wall), " +
      f"above-floor (data work + any shaveable) = ${sumWall - sumFloor}%.1f s " +
      f"(${100 * (sumWall - sumFloor) / sumWall}%.0f%%)")
    graft.log.WalrusLog.deleteRecursively(floorDir)
    spark.stop()
  }
}
