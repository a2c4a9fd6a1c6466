package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.WalrusLog
import graft.sources.WalrusLogSource

/** The fixture contract: what every registered log fixture holds right
  * after it is built on sf0.001. A fingerprint covers the read
  * consistency, the `LogConfig`, `commitHistory`, each commit's per-topic
  * `(start, end)`, the consumer cursors and a digest of the sorted
  * `toDF()` `(topic, offset, value)` rows — so a fixture declaration that
  * changes any commit boundary, timestamp offset, post-step or option
  * fails here, not as a later oracle mismatch of the queries reading it.
  *
  * The pinned literals were captured from the per-fixture builders that
  * preceded the registry. Wall-clock commit stamps (compaction, the
  * public batch writer) are recorded as "wall"; every other stamp as its
  * offset from the fixtures' fixed ingest time. */
class FixtureContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("FixtureContractSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The smallest scale factor of the project's testdata (TESTDATA.md). */
  private val Sf0001 = Paths.get(sys.props("user.home"), "testdata", "sf0.001")
  private val FixedTsMillis = 1704067200000L

  /** Fixtures are cached per sfDir, so a private copy of the tables gives
    * this spec fixtures no other suite's queries have touched. */
  private def privateSfCopy(): String = {
    val dst = TestDirs.create("fixture-contract-sf-")
    val walk = Files.walk(Sf0001)
    try walk.iterator().asScala.foreach { p =>
      val to = dst.resolve(Sf0001.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    dst.toString
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def fingerprint(log: WalrusLog): String = {
    val history = log.commitHistory.map {
      case (id, ts, nTopics, rows, bytes, tag, nReplaced, vacuumed, replaced) =>
        val d = ts - FixedTsMillis
        val stamp = if (d >= 0 && d < 86400000L) d.toString else "wall"
        (id, stamp, nTopics, rows, bytes, tag, nReplaced, vacuumed, replaced)
    }
    val ranges = WalrusLogSource.listCommits(
        Paths.get(log.root, WalrusLog.sanitizeKey(log.namespace)))
      .map { case (c, _) =>
        c.id -> c.topics.toSeq.sortBy(_._1)
          .map { case (t, r) => s"$t:${r.start}-${r.end}" }
      }
    val rows = log.toDF().select("topic", "offset", "value").collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}\t" +
        r.getAs[Array[Byte]](2).map(b => f"$b%02x").mkString)
      .sorted
    val digest = sha256(Seq(log.consistency, log.cfg, history, ranges,
      log.consumerCursors, sha256(rows.mkString("\n"))).mkString("|"))
    s"${log.consistency} commits=${history.size} rows=${rows.length} " +
      digest.take(16)
  }

  /** Every log a fixture value holds, keyed for the pin table: a log, a
    * log with its vacuum cuts, or a root of one namespace per key. Other
    * fixtures (parquet layouts) hold no log. */
  private def logsOf(key: String, value: Any): Seq[(String, String)] = value match {
    case log: WalrusLog => Seq(key -> fingerprint(log))
    case (log: WalrusLog, cuts: Map[_, _]) =>
      Seq(key -> (fingerprint(log) + " cuts=" +
        cuts.toSeq.map { case (t, o) => s"$t:$o" }.sorted.mkString(",")))
    case root: String if WalrusLog.namespacesUnder(root).nonEmpty =>
      WalrusLog.namespacesUnder(root).map { ns =>
        s"$key/$ns" -> fingerprint(new WalrusLog(spark, root, ns))
      }
    case _ => Nil
  }

  private val Pinned: Map[String, String] = Map(
    "batchwrite" -> "StrictlyAtOnce commits=1 rows=200 947e493eb363a910",
    "churn" -> "AtLeastOnce(5000) commits=4 rows=334 87b9c907be5ab403",
    "compacted" -> "AtLeastOnce(5000) commits=4 rows=1000 7a20f4a28673a7ae",
    "csv" -> "AtLeastOnce(5000) commits=1 rows=1000 0b0e2e4f72a0340f",
    "ctimes" -> "StrictlyAtOnce commits=4 rows=1000 98bedc29326ddb98",
    "dlq" -> "AtLeastOnce(5000) commits=1 rows=1000 979558c3ab1a129e",
    "docs" -> "StrictlyAtOnce commits=1 rows=500 ac9107f2f35c4180",
    "gap" -> "AtLeastOnce(5000) commits=3 rows=91 41ed70b60349a013",
    "lineitem" -> "AtLeastOnce(5000) commits=1 rows=6000 5463ca8a8266179e",
    "main" -> "AtLeastOnce(5000) commits=1 rows=1000 8744e4413b1d40cb",
    "multi" -> "AtLeastOnce(5000) commits=3 rows=1000 2db768832f866698",
    "nsfed/de" -> "StrictlyAtOnce commits=1 rows=71 04735c5e8e9b3166",
    "nsfed/en" -> "StrictlyAtOnce commits=1 rows=193 c06ce31d5fcea275",
    "nsfed/es" -> "StrictlyAtOnce commits=1 rows=80 45ca4a8ec18ae517",
    "nsfed/fr" -> "StrictlyAtOnce commits=1 rows=82 1d08b805e61ad715",
    "nsfed/zh" -> "StrictlyAtOnce commits=1 rows=74 be1e44c88553d0db",
    "rebal" -> "AtLeastOnce(5000) commits=1 rows=44 952152d76b3a7f40",
    "ret" -> "AtLeastOnce(5000) commits=1 rows=1000 da5ba552349307f9",
    "retainbytes" -> "AtLeastOnce(5000) commits=3 rows=1000 2db768832f866698",
    "seg50" -> "AtLeastOnce(5000) commits=1 rows=1000 408c95365c51b311",
    "session" -> "AtLeastOnce(5000) commits=2 rows=1005 287e92e119f06851",
    "times" -> "StrictlyAtOnce commits=3 rows=1000 77dcff65568491e9",
    "tomb" -> "AtLeastOnce(5000) commits=1 rows=1000 84dc235d5994f1ce",
    "txn" -> "AtLeastOnce(5000) commits=1 rows=667 d8dacb0dbf0c6188",
    "vac" -> "AtLeastOnce(5000) commits=3 rows=1000 2db768832f866698 cuts=click:67,error:75,purchase:69,signup:66,view:56",
    "vacplan" -> "AtLeastOnce(5000) commits=3 rows=1000 9055ed0435b89714")

  test("every log fixture matches its pinned fingerprint on sf0.001") {
    val dir = privateSfCopy()
    val actual = SparkEntry.fixtures.flatMap(f => logsOf(f.key, f(spark, dir))).toMap
    val diff = (actual.keySet ++ Pinned.keySet).toSeq.sorted
      .filter(k => actual.get(k) != Pinned.get(k))
    assert(diff.isEmpty,
      "fixture fingerprints drifted:\n" + diff.map(k =>
        s"  $k: pinned ${Pinned.get(k)}, built ${actual.get(k)}").mkString("\n") +
        "\nbuilt table:\n" + actual.toSeq.sorted.map { case (k, v) =>
          s"""    "$k" -> "$v",""" }.mkString("\n"))
  }

  test("warmup builds every registered fixture") {
    val keys = SparkEntry.fixtures.map(_.key)
    assert(keys.distinct.size == keys.size, s"duplicate fixture keys: $keys")
    val dir = privateSfCopy()
    SparkEntry.warmup(spark, dir)
    val missing = SparkEntry.fixtures.filterNot(_.isBuilt(dir)).map(_.key)
    assert(missing.isEmpty, s"warmup left fixtures unbuilt: $missing")
  }

  test("every fixture's scratch root lives under the per-JVM scratch parent") {
    val dir = privateSfCopy()
    try checkScratchRoots(dir) finally WalrusLog.deleteRecursively(Paths.get(dir))
  }

  private def checkScratchRoots(dir: String): Unit = {
    val parent = SparkEntry.scratchParent
    // a fixture's roots: the ones it created, plus any log root its value
    // holds (seg50 reopens main's)
    val roots = SparkEntry.fixtures.map { f =>
      val held = f(spark, dir) match {
        case log: WalrusLog => Seq(log.root)
        case (log: WalrusLog, _) => Seq(log.root)
        case path: String => Seq(path)
        case _ => Nil
      }
      f.key -> (held ++ SparkEntry.scratchRootsOf(f.key)).distinct
    }
    val rootless = roots.collect { case (k, rs) if rs.isEmpty => k }
    assert(rootless.isEmpty, s"fixtures with no scratch root: $rootless")
    val outside = roots.flatMap { case (k, rs) =>
      rs.filterNot(r => Paths.get(r).startsWith(parent)).map(r => s"$k: $r")
    }
    assert(outside.isEmpty, s"roots outside $parent:\n${outside.mkString("\n")}")
  }
}
