package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.log.WalrusLog

/** `df.write.format("walruslog")` — the batch V1-fallback write path
  * (write-side twin of the batch V2 scan; the streaming sink's sibling).
  * Reference contract: one atomically visible commit per write, dense
  * per-topic offsets, append-only immutability (walrus.rs batch-file
  * immutability; see README "Deliberate divergences"). */
class WalrusBatchWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusBatchWriteSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tempRoot(): String = graft.TestDirs.create("wbatchw-").toString

  private def df(rows: Seq[(String, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("topic", "v").select(col("topic"), col("v").cast("binary").as("value"))
  }

  test("batch write roundtrips through the V2 scan with dense offsets; append extends") {
    val root = tempRoot()
    df(Seq("a" -> "x0", "a" -> "x1", "b" -> "y0"))
      .write.format("walruslog").mode(SaveMode.Append).option("path", root).save()
    val r1 = spark.read.format("walruslog").option("path", root).load()
      .select(col("topic"), col("offset"), col("value").cast("string").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(r1.map(t => (t._1, t._2)) == Set(("a", 0L), ("a", 1L), ("b", 0L)))
    // a second append is a NEW commit continuing each topic's dense offsets
    df(Seq("a" -> "x2", "b" -> "y1"))
      .write.format("walruslog").mode(SaveMode.Append).option("path", root).save()
    val log = new WalrusLog(spark, root)
    assert(log.entryCount("a") == 3 && log.entryCount("b") == 2)
    assert(log.batchRead("a", 1 << 20, checkpoint = false)
      .map(e => new String(e.value)) == Seq("x0", "x1", "x2"))
  }

  test("save modes follow log semantics: ErrorIfExists/Ignore/Overwrite") {
    val root = tempRoot()
    // ErrorIfExists on an empty namespace writes
    df(Seq("t" -> "v0")).write.format("walruslog").option("path", root).save()
    assert(new WalrusLog(spark, root).entryCount("t") == 1)
    // ... and refuses once entries exist
    val ex = intercept[Exception] {
      df(Seq("t" -> "v1")).write.format("walruslog").option("path", root).save()
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(c => Option(c.getMessage)).toSeq
    assert(msgs(ex).exists(_.contains("already holds entries")))
    // a DIFFERENT topic under ErrorIfExists with option(topic) is fine
    spark.range(1).select(lit("w0").cast("binary").as("value"))
      .write.format("walruslog").option("path", root).option("topic", "u").save()
    assert(new WalrusLog(spark, root).entryCount("u") == 1)
    // Ignore: no-op when the target holds entries
    df(Seq("t" -> "v2")).write.format("walruslog").mode(SaveMode.Ignore)
      .option("path", root).save()
    assert(new WalrusLog(spark, root).entryCount("t") == 1)
    // Overwrite: rejected outright (append-only log)
    val ow = intercept[Exception] {
      df(Seq("t" -> "v3")).write.format("walruslog").mode(SaveMode.Overwrite)
        .option("path", root).save()
    }
    assert(msgs(ow).exists(_.contains("append-only")))
  }

  test("seqCol orders within topic globally; topic option routes value-only rows") {
    val root = tempRoot()
    val s = spark; import s.implicits._
    // deliberately shuffled input; seqCol must impose the global order
    Seq(("t", "c", 2L), ("t", "a", 0L), ("t", "b", 1L))
      .toDF("topic", "v", "seq")
      .select(col("topic"), col("v").cast("binary").as("value"), col("seq"))
      .repartition(3)
      .write.format("walruslog").mode(SaveMode.Append)
      .option("path", root).option("seqCol", "seq").save()
    assert(new WalrusLog(spark, root).batchRead("t", 1 << 20, checkpoint = false)
      .map(e => new String(e.value)) == Seq("a", "b", "c"))
    // value-only rows + option(topic)
    Seq("r0", "r1").toDF("v").select(col("v").cast("binary").as("value"))
      .write.format("walruslog").mode(SaveMode.Append)
      .option("path", root).option("topic", "routed").save()
    assert(new WalrusLog(spark, root).entryCount("routed") == 2)
    // missing both topic column and topic option is rejected
    val ex = intercept[Exception] {
      Seq("z").toDF("v").select(col("v").cast("binary").as("value"))
        .write.format("walruslog").mode(SaveMode.Append).option("path", root).save()
    }
    val all = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(c => Option(c.getMessage)).toSeq
    assert(all.exists(_.contains("'topic' and 'value'")))
  }

  test("tag option: a re-run of the same tagged batch write is a no-op, across restart and vacuum") {
    val root = tempRoot()
    val s = spark; import s.implicits._
    def save(v: String): Unit =
      Seq(("t", v)).toDF("topic", "v")
        .select(col("topic"), col("v").cast("binary").as("value"))
        .write.format("walruslog").mode(SaveMode.Append)
        .option("path", root).option("tag", "backfill-7").save()
    save("x0")
    save("x0-retry") // same tag: orchestrator retry — must not duplicate
    val log = new WalrusLog(spark, root,
      cfg = graft.log.LogConfig(manifestEveryCommits = 1))
    assert(log.entryCount("t") == 1)
    assert(new String(log.readNext("t", checkpoint = true).get.value) == "x0")
    // even after the commit is vacuumed OUT of the manifest, the verbatim
    // manual tag still blocks a replay (the ADVICE-r8 contract)
    assert(log.vacuum().nonEmpty)
    log.close()
    save("x0-late-retry")
    assert(new WalrusLog(spark, root).totalAppended("t") == 1)
  }
}
