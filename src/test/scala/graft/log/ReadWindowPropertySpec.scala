package graft.log

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seeded random histories of appends, batch appends, compactions,
  * vacuums and reopens: after every step, each cursor read window
  * (`batchRead(checkpoint = false)`) is exactly the `toDF()` rows of its
  * offset range, however the log's live ranges were last rearranged. */
class ReadWindowPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ReadWindowPropertySpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Topics = Seq("a", "b")
  private val Groups = Seq("g1", "g2")

  /** (offset, value, ts, checksum) of every visible row of each topic. */
  private def visible(log: WalrusLog): Map[String, Seq[(Long, String, Long, Long)]] =
    log.toDF().selectExpr("topic", "offset", "CAST(value AS STRING)", "ts", "checksum")
      .collect().toSeq
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2), r.getTimestamp(3).getTime, r.getLong(4))))
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sortBy(_._1) }

  private def checkWindows(log: WalrusLog, r: scala.util.Random, step: String): Unit = {
    val rows = visible(log)
    for (t <- Topics; g <- Groups) {
      val cursor = log.committedOffset(g, t)
      val cap = 1 + r.nextInt(6)
      val window = log.batchRead(t, Long.MaxValue, checkpoint = false, group = g, entriesCap = cap)
        .map(e => (e.offset, new String(e.value, "UTF-8"), e.ts.getTime, e.checksum))
      val all = rows.getOrElse(t, Seq.empty)
      val at = s"$step: topic $t group $g cursor $cursor cap $cap"
      assert(log.committedOffset(g, t) == cursor, s"$at: a peek moved the cursor")
      window.headOption match {
        case Some((first, _, _, _)) =>
          assert(all.forall(x => x._1 < cursor || x._1 >= first),
            s"$at: skipped rows before ${first}: $window")
          assert(window == all.filter(x => x._1 >= first && x._1 < first + cap),
            s"$at: window $window")
        case None =>
          assert(!all.exists(x => x._1 >= cursor && x._1 < cursor + cap),
            s"$at: empty window over visible rows")
      }
    }
  }

  test("cursor read windows equal the toDF rows of their offset range") {
    val seeds = Seq(3L, 17L)
    seeds.foreach { seed =>
      val r = new scala.util.Random(seed)
      val root = graft.TestDirs.create(s"rwprop-$seed-").toString
      // small manifests, so truncation after vacuum and compaction runs too
      val cfg = LogConfig(manifestEveryCommits = 4)
      var log = new WalrusLog(spark, root, cfg = cfg)
      var n = 0
      (0 until 24).foreach { i =>
        val t = Topics(r.nextInt(Topics.size))
        val step = r.nextInt(10) match {
          case 0 | 1 =>
            log.append(t, s"$t-$n".getBytes("UTF-8")); n += 1; "append"
          case 2 | 3 | 4 =>
            val k = 1 + r.nextInt(4)
            log.batchAppend(t, (0 until k).map(j => s"$t-$n-$j".getBytes("UTF-8"))); n += 1
            "batchAppend"
          case 5 =>
            s"compact ${log.compact(maxSourceBatches = 2 + r.nextInt(3))}"
          case 6 =>
            // consume so that vacuum has something to reclaim
            Groups.foreach(g => log.batchRead(t, Long.MaxValue, group = g,
              entriesCap = 1 + r.nextInt(5)))
            s"vacuum ${log.vacuum()}"
          case 7 =>
            val times = log.commitHistory.map(_._2).sorted
            if (times.isEmpty) "vacuumOlderThan none"
            else {
              // reclaim the older part of the log by publish time
              val cutoff = times(times.size / 3)
              s"vacuumOlderThan ${log.vacuumOlderThan(cutoff)}"
            }
          case 8 =>
            log.close(); log = new WalrusLog(spark, root, cfg = cfg); "reopen"
          case _ =>
            Groups.foreach(g => log.batchRead(t, Long.MaxValue, group = g,
              entriesCap = 1 + r.nextInt(3)))
            "consume"
        }
        checkWindows(log, r, s"seed $seed step $i ($step)")
      }
    }
  }
}
