package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.log.WalrusLog

/** SQL catalog over a log root: topics as tables, namespaces as
  * namespaces, DDL as topic lifecycle (reference: REGISTER + STATE
  * directory, distributed-walrus/src/controller/mod.rs:124-195). */
class WalrusCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = graft.TestDirs.create("wcat-").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusCatalogSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.wal", "graft.sources.WalrusCatalog")
    .config("spark.sql.catalog.wal.root", root)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("SHOW TABLES lists registered and written topics; SELECT scans one topic") {
    val log = new WalrusLog(spark, root)
    log.batchAppend("clicks", (0 until 4).map(i => bytes(s"c$i")))
    log.batchAppend("views", (0 until 2).map(i => bytes(s"v$i")))
    log.ensureTopic("empty_reg") // registered, never written
    val tables = spark.sql("SHOW TABLES IN wal.default")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(tables == Set("clicks", "views", "empty_reg"))
    // qualified SELECT resolves through the catalog and prunes to the topic
    val rows = spark.sql(
      "SELECT offset, CAST(value AS STRING) v FROM wal.default.clicks ORDER BY offset")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((0L, "c0"), (1L, "c1"), (2L, "c2"), (3L, "c3")))
    assert(spark.sql("SELECT count(*) FROM wal.default.empty_reg").head.getLong(0) == 0)
    // SHOW NAMESPACES sees default
    assert(spark.sql("SHOW NAMESPACES IN wal").collect()
      .map(_.getString(0)).contains("default"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF time-travel through the catalog") {
    val log = new WalrusLog(spark, root, "tt")
    log.appendDF(ttDF("t", Seq("a", "b")), ingestTs = new java.sql.Timestamp(1000000L))
    log.appendDF(ttDF("t", Seq("c")), ingestTs = new java.sql.Timestamp(2000000L))
    log.appendDF(ttDF("t", Seq("d")), ingestTs = new java.sql.Timestamp(3000000L))
    assert(spark.sql("SELECT count(*) FROM wal.tt.t").head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM wal.tt.t VERSION AS OF 1").head.getLong(0) == 3)
    // timestamp 2000s lands ON commit 1 → commits 0+1 visible
    assert(spark.sql(
      "SELECT count(*) FROM wal.tt.t TIMESTAMP AS OF '1970-01-01 00:33:20'")
      .head.getLong(0) == 3)
    // a version past the latest commit is an ERROR, not an alias of latest
    val ex = intercept[Exception] {
      spark.sql("SELECT count(*) FROM wal.tt.t VERSION AS OF 99").collect()
    }
    def chain(t: Throwable) =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("does not exist"))))
  }

  test("CREATE TABLE into a missing namespace is an analysis error, not an implicit mkdir") {
    val ex = intercept[Exception] {
      spark.sql("CREATE TABLE wal.no_such_ns.t")
    }
    def chain(t: Throwable) =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException]))
    // and the namespace was NOT created as a side effect
    assert(!spark.sql("SHOW NAMESPACES IN wal").collect()
      .map(_.getString(0)).contains("no_such_ns"))
  }

  private def ttDF(topic: String, vs: Seq[String]) = {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    vs.zipWithIndex.toDF("v", "seq")
      .select(lit(topic).as("topic"), col("v").cast("binary").as("value"),
        col("seq").cast("long").as("_seq"))
  }

  test("CREATE TABLE registers a topic; DROP TABLE drops empty topics only") {
    spark.sql("CREATE TABLE wal.default.audit")
    val log = new WalrusLog(spark, root)
    assert(log.topicNames.contains("audit"))
    intercept[Exception] { spark.sql("CREATE TABLE wal.default.audit") }
    // a registered-but-empty topic drops cleanly...
    spark.sql("DROP TABLE wal.default.audit")
    assert(!spark.sql("SHOW TABLES IN wal.default").collect()
      .map(_.getString(1)).contains("audit"))
    // ...a topic with entries does not (published entries are immutable)
    val ex = intercept[Exception] { spark.sql("DROP TABLE wal.default.clicks") }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(c => Option(c.getMessage)).toSeq
    assert(msgs.exists(_.contains("immutable")))
    // fixed schema: a column list is rejected
    val bad = intercept[Exception] {
      spark.sql("CREATE TABLE wal.default.typed (x INT)")
    }
    assert(Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(c => Option(c.getMessage))
      .exists(_.contains("fixed entry schema")))
  }

  test("INSERT INTO a catalog table appends one atomic commit; OVERWRITE rejected") {
    val log = new WalrusLog(spark, root, "ins")
    log.batchAppend("t", Seq(bytes("seed")))
    // column-list insert: engine columns + topic come from declared defaults
    spark.sql("INSERT INTO wal.ins.t (value) VALUES (CAST('i0' AS BINARY)), (CAST('i1' AS BINARY))")
    val rows = spark.sql(
      "SELECT offset, CAST(value AS STRING) v FROM wal.ins.t ORDER BY offset")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((0L, "seed"), (1L, "i0"), (2L, "i1")))
    // INSERT ... SELECT lands in THE table's topic whatever the topic col says
    spark.sql("INSERT INTO wal.ins.t SELECT NULL, NULL, CAST('i2' AS BINARY), NULL, 'elsewhere'")
    assert(new WalrusLog(spark, root, "ins").entryCount("t") == 4)
    assert(spark.sql("SHOW TABLES IN wal.ins").collect().map(_.getString(1)).toSet == Set("t"))
    // append-only: INSERT OVERWRITE is rejected
    val ex = intercept[Exception] {
      spark.sql("INSERT OVERWRITE wal.ins.t SELECT * FROM wal.ins.t")
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(c => Option(c.getMessage)).toSeq
    info("overwrite rejection: " + msgs.mkString(" | ").take(500))
    assert(msgs.exists(m => m.contains("append-only") ||
      m.toLowerCase.contains("truncate") || m.toLowerCase.contains("overwrite")))
  }

  test("a second instance's persist does not erase catalog registrations (clean-file merge)") {
    val log = new WalrusLog(spark, root, "merge")
    log.batchAppend("t", Seq(bytes("x")))
    // catalog DDL registers through its OWN WalrusLog instance...
    spark.sql("CREATE TABLE wal.merge.reg")
    // ...then the ORIGINAL instance persists (dirty-marker write): a
    // whole-file overwrite would drop 'reg'; the merge must keep it
    log.markTopicDirty("t")
    assert(spark.sql("SHOW TABLES IN wal.merge").collect()
      .map(_.getString(1)).toSet == Set("t", "reg"))
    // and an explicit drop stays dropped after that instance persists again
    spark.sql("DROP TABLE wal.merge.reg")
    log.markTopicClean("t")
    assert(spark.sql("SHOW TABLES IN wal.merge").collect()
      .map(_.getString(1)).toSet == Set("t"))
  }

  test("CALL procedures: compact / vacuum / retention / snapshot as SQL, with result rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wal.proc")
    val log = new WalrusLog(spark, root, "proc")
    log.batchAppend("t", (0 until 3).map(i => bytes(s"a$i")))
    log.batchAppend("t", (0 until 2).map(i => bytes(s"b$i")))
    log.batchAppend("u", (0 until 4).map(i => bytes(s"c$i")))
    // SHOW PROCEDURES surfaces the maintenance set
    val procs = spark.sql("SHOW PROCEDURES IN wal.proc").collect()
      .map(_.getAs[String]("procedure_name")).toSet
    assert(procs == Set("compact", "seek", "snapshot_manifest", "vacuum",
      "vacuum_older_than", "vacuum_to_bytes"), procs.toString)
    // offset reset: clamped seek returns the resulting committed offset
    assert(spark.sql("CALL wal.proc.seek('g1', 't', 2)").head.getLong(0) == 2L)
    assert(spark.sql("CALL wal.proc.seek('g1', 't', 99)").head.getLong(0) == 5L)
    // snapshot: per-commit ranges as rows
    val snap = spark.sql("CALL wal.proc.snapshot_manifest()").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(snap.toSeq == Seq((1L, "t", 0L, 3L), (2L, "t", 3L, 5L), (3L, "u", 0L, 4L)),
      snap.mkString(","))
    // compact: returns the new batch id; reads unchanged
    val newId = spark.sql("CALL wal.proc.compact(1073741824)").collect()
    assert(newId.map(_.getLong(0)).toSeq == Seq(3L), newId.mkString(","))
    assert(spark.sql("SELECT count(*) FROM wal.proc.t").head.getLong(0) == 5L)
    // time retention: reclaim everything committed before the far future
    val reclaimed = spark.sql(
      s"CALL wal.proc.vacuum_older_than(${System.currentTimeMillis() + 86400000L})")
      .collect().map(_.getLong(0)).toSeq
    assert(reclaimed == Seq(3L), s"expected the compaction batch reclaimed: $reclaimed")
    assert(spark.sql("SELECT count(*) FROM wal.proc.t").head.getLong(0) == 0L)
    // offsets survive (storage-only semantics): fresh appends continue —
    // through a RE-OPENED instance (the CALLs committed via their own log
    // instances; the stale one must re-open to observe, by design)
    new WalrusLog(spark, root, "proc").batchAppend("t", Seq(bytes("d0")))
    assert(spark.sql("SELECT max(offset) FROM wal.proc.t").head.getLong(0) == 5L)
    // consumption-based vacuum via CALL: nothing consumed -> nothing reclaimed
    assert(spark.sql("CALL wal.proc.vacuum()").collect().isEmpty)
    // DESCRIBE PROCEDURE surfaces the parameter signature
    val desc = spark.sql("DESCRIBE PROCEDURE wal.proc.vacuum_older_than")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("vacuum_older_than") && desc.contains("cutoff_ms"), desc)
    // an unknown procedure is an explicit error (Spark wraps the
    // catalog's message in FAILED_TO_LOAD_ROUTINE)
    val err = intercept[Exception] { spark.sql("CALL wal.proc.nope()").collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(m => m.contains("undefined procedure") ||
      m.contains("FAILED_TO_LOAD_ROUTINE")), msgs(err).mkString(" | "))
  }

  test("namespace DDL: create, list, non-empty drop refused without cascade") {
    spark.sql("CREATE NAMESPACE wal.scratch")
    assert(spark.sql("SHOW NAMESPACES IN wal").collect()
      .map(_.getString(0)).contains("scratch"))
    val log = new WalrusLog(spark, root, "scratch")
    log.batchAppend("t", Seq(bytes("x")))
    intercept[Exception] { spark.sql("DROP NAMESPACE wal.scratch") }
    spark.sql("DROP NAMESPACE wal.scratch CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN wal").collect()
      .map(_.getString(0)).contains("scratch"))
  }
}
