package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan contracts: the physical properties PLANS.md claims, asserted on
  * tiny self-contained fixtures so a regression (a lost pushdown, a new
  * shuffle, a dropped broadcast, an interpreter fallback) fails tests
  * instead of quietly costing 10× at 100 TB. */
class PlanContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("PlanContractSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Tiny sfDir with the table shapes SparkEntry queries expect. */
  private lazy val sfDir: String = {
    import spark.implicits._
    val dir = TestDirs.create("plan-contract-sf-").toString
    val rnd = new scala.util.Random(11)
    (0L until 40L).map { i =>
      (i, (0 until 30).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
        "en", s"src${i % 3}", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (0L until 300L).map { i =>
      (i % 60, i % 20, i % 7, (i % 4).toInt, (1 + i % 50).toDouble,
        100.0 + i, 0.01 * (i % 9), 0.02, "N", "O",
        java.sql.Timestamp.valueOf(
          f"1997-0${1 + i % 9}%d-0${1 + i % 9}%d 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    (0L until 60L).map(i => (i, i % 15, "O", 1000.0 + i,
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    (0L until 15L).map(i => (i, s"Customer#$i", (i % 5).toInt, 100.0 + i, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    (0L until 40L).map { i =>
      (i, Array.tabulate(64)(d => ((i * 7 + d) % 13).toFloat / 13f).toSeq)
    }.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    (0L until 30L).map(i => (i, s"large widget $i", s"Brand#${i % 5}",
        if (i % 2 == 0) "LARGE" else "SMALL", (i % 20).toInt, 900.0 + i))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    (0L until 8L).map(i => (i, s"Supplier#$i", (i % 5).toInt, 10.0 * i))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (0 until 5).map(i => (i, s"NATION_$i", i % 3))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    (0 until 3).map(i => (i, Seq("EUROPE", "AMERICA", "ASIA")(i)))
      .toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    (0L until 120L).map { i =>
      (i, 1700000000000000000L + i * 1000000000L, i % 10,
        Seq("view", "click", "purchase")((i % 3).toInt),
        (i % 7).toDouble, s"""{"k": ${i % 20}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("walruslog V2 scan: topic/offset predicates prune commits from metadata") {
    val root = TestDirs.create("plan-wl-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 4).foreach(i =>
      log.batchAppend("t", (0 until 5).map(j => s"c$i-$j".getBytes("UTF-8"))))
    log.batchAppend("other", Seq("x".getBytes("UTF-8")))
    val df = spark.read.format("walruslog").option("path", root).load()
      .where(col("topic") === "t" && col("offset") >= 15L)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("pushed=["), s"scan reports no pushed filters:\n$plan")
    assert(plan.contains("offset >= 15"), s"offset bound not pushed:\n$plan")
    // topic 't' spans 4 commits of 5 entries (offsets 0..19); offset>=15
    // survives only in commit 4's TopicRange, and 'other' is pruned by
    // topic — exactly ONE file reaches the reader
    val parts = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
    assert(parts == 1, s"expected 1 surviving file partition, got $parts:\n$plan")
    val rows = df.orderBy("offset").collect()
    assert(rows.map(_.getAs[Long]("offset")).toSeq == (15L to 19L))
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq ==
      (0 until 5).map(j => s"c3-$j"))
  }

  test("log_agg_pushdown: the whole aggregate collapses into the metadata scan") {
    val plan = planOf("log_agg_pushdown")
    assert(plan.contains("WalrusAggRowsScan"),
      s"aggregate not answered from commit metadata:\n$plan")
    assert(!plan.contains("WalrusLogScan"),
      s"a data scan survived next to the metadata answer:\n$plan")
  }

  test("rel_q6_log_scan: ship-year topic filter is pushed into the walruslog scan") {
    // The TPC-H-through-the-log contract (judge r6 #6): the Q6 date range
    // becomes a topic equality the V2 scan prunes at commit metadata, and
    // only the needed columns reach the reader.
    val plan = planOf("rel_q6_log_scan")
    assert(plan.contains("WalrusLogScan"), s"query does not read the log:\n$plan")
    assert(plan.contains("pushed=[topic IN {ship-1997}"),
      s"ship-year topic filter not pushed into the scan:\n$plan")
    // column pruning: checksum/offset are not referenced, so the scan
    // schema must not carry them
    val scanLine = plan.linesIterator.find(_.contains("WalrusLogScan")).get
    assert(!scanLine.contains("checksum") && !scanLine.contains("offset"),
      s"unused columns not pruned from the log scan:\n$scanLine")
  }

  test("metadata COUNT is exact across a vacuum-hole compaction (end-start is only an upper bound)") {
    // the agg-pushdown twin of the r11 trimForLimit fix: a consumption
    // vacuum reclaims a mid-log commit, a later compact() merges the
    // topic range ACROSS the hole — metadata end-start overcounts, so
    // the COUNT answer must come from the recorded exact rows, and MUST
    // still be served from metadata (the rowsKnown gate holds: the
    // compaction recorded its exact counts)
    val root = TestDirs.create("plan-hole-").toString
    val log = new graft.log.WalrusLog(spark, root)
    // c0 is MULTI-topic (a[0,5) + b[0,1)) so it SURVIVES the vacuum (b
    // unconsumed) while the a-only c1 between the surviving a-ranges is
    // reclaimed — the compaction then merges a[0,5) and a[10,15) into a
    // metadata range [0,15) spanning the 5-row hole
    import spark.implicits._
    log.appendDF(
      ((0 until 5).map(i => ("a", s"a$i")) :+ (("b", "keeper")))
        .toDF("topic", "v")
        .select(col("topic"), encode(col("v"), "UTF-8").as("value")))
    log.batchAppend("a", (5 until 10).map(i => s"a$i".getBytes("UTF-8"))) // [5,10)
    log.batchAppend("a", (10 until 15).map(i => s"a$i".getBytes("UTF-8")))// [10,15)
    log.seek("g", "a", 10L) // only c1 (a[5,10)) is fully consumed
    val reclaimed = log.vacuum()
    assert(reclaimed.size == 1, reclaimed.toString)
    assert(log.compact().nonEmpty)
    val df = spark.read.format("walruslog").option("path", root).load()
    val agg = df.groupBy("topic").agg(count(lit(1)).as("n"),
      min("offset").as("lo"), max("offset").as("hi"))
    assert(agg.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("WalrusAggRowsScan"),
      "exact-rows compaction must keep the metadata answer")
    val rows = agg.orderBy("topic").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // a: 10 real rows ([0,5) ∪ [10,15)) though the merged range is [0,15)
    assert(rows == Seq(("a", 10L, 0L, 14L), ("b", 1L, 0L, 0L)), rows.toString)
    // and the REAL data scan agrees (collect actual rows, no pushdown —
    // the gate would be meaningless otherwise)
    assert(df.where(col("topic") === "a").select("offset")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 5L) ++ (10L until 15L)).toSeq)
  }

  test("walruslog aggregate pushdown: COUNT/MIN/MAX(offset) answered from commit metadata") {
    val root = TestDirs.create("plan-agg-").toString
    val log = new graft.log.WalrusLog(spark, root)
    log.batchAppend("a", (0 until 5).map(i => s"a$i".getBytes("UTF-8")))
    log.batchAppend("a", (5 until 8).map(i => s"a$i".getBytes("UTF-8")))
    log.batchAppend("b", (0 until 2).map(i => s"b$i".getBytes("UTF-8")))
    val df = spark.read.format("walruslog").option("path", root).load()

    // grouped: the whole Aggregate collapses into the metadata scan
    val grouped = df.groupBy("topic").agg(count(lit(1)).as("n"),
      min("offset").as("lo"), max("offset").as("hi"))
    val gplan = grouped.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(gplan.contains("WalrusAggRowsScan"),
      s"grouped aggregate not answered from metadata:\n$gplan")
    val grows = grouped.orderBy("topic").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(grows == Seq(("a", 8L, 0L, 7L), ("b", 2L, 0L, 1L)), grows.toString)

    // topic-filtered global count: the exact topic filter leaves no
    // residual, so the aggregate still pushes (zero data IO)
    val filtered = df.where(col("topic") === "a").agg(count(lit(1)).as("n"))
    assert(filtered.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("WalrusAggRowsScan"))
    assert(filtered.head.getLong(0) == 8L)

    // count(value) ≡ count(*): engine columns are never null
    val cv = df.agg(count(col("value")).as("n"))
    assert(cv.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("WalrusAggRowsScan"))
    assert(cv.head.getLong(0) == 10L)

    // an offset bound prunes at COMMIT granularity — metadata would
    // overcount, so the aggregate must NOT push and the answer must come
    // from the data scan
    val bounded = df.where(col("offset") >= 5L).agg(count(lit(1)).as("n"))
    assert(!bounded.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("WalrusAggRowsScan"),
      "offset-bounded aggregate must read data, not metadata")
    assert(bounded.head.getLong(0) == 3L)

    // vacuumed storage leaves the metadata answer in lockstep with reads
    (0 until 10).foreach(_ => log.readNext("a", checkpoint = true))
    (0 until 2).foreach(_ => log.readNext("b", checkpoint = true))
    log.vacuum()
    val after = spark.read.format("walruslog").option("path", root).load()
      .groupBy("topic").agg(count(lit(1)).as("n"))
    assert(after.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("WalrusAggRowsScan"))
    assert(after.collect().isEmpty, "reclaimed commits must not be counted")
  }

  test("walruslog limit pushdown trims the commit prefix from metadata row counts") {
    val root = TestDirs.create("plan-lim-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 10).foreach(i =>
      log.batchAppend("t", (0 until 5).map(j => s"c$i-$j".getBytes("UTF-8"))))
    val df = spark.read.format("walruslog").option("path", root).load()
    // data files the executed scan plans to open (a partition packs
    // several files of one topic)
    def partsOf(d: org.apache.spark.sql.DataFrame): Int = {
      d.collect() // force execution so AQE finalizes the scan
      d.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map {
            case p: graft.sources.WalrusFilePartition => p.files.size
            case _ => 1
          }.sum
      }.sum
    }
    // limit 7 needs two 5-row commits; the other eight are never opened
    val lim = df.limit(7)
    assert(lim.count() == 7)
    assert(partsOf(lim) == 2, s"expected 2 planned files, got ${partsOf(lim)}")
    // an offset bound blocks the push (residual filtering could starve it)
    val bounded = df.where(col("offset") >= 48L).limit(2)
    assert(bounded.count() == 2, "offset-bounded limit must still deliver")
    // and without limit, all ten commits plan
    assert(partsOf(df) == 10)
    // TopN DESC on offset = "tail the log": only the newest commits plan,
    // and the rows are the true global tail
    val tail = df.orderBy(col("offset").desc).limit(7)
    val tailRows = tail.collect().map(_.getAs[Long]("offset")).toSeq
    assert(tailRows == (49L to 43L by -1L), tailRows.toString)
    assert(partsOf(tail) == 2, s"expected 2 tail files, got ${partsOf(tail)}")
    // TopN ASC mirrors the plain limit prefix
    val head7 = df.orderBy(col("offset").asc).limit(7)
    assert(head7.collect().map(_.getAs[Long]("offset")).toSeq == (0L to 6L))
    assert(partsOf(head7) == 2)
  }

  test("storage-partitioned execution: per-topic aggregation over the log runs without a shuffle") {
    val root = TestDirs.create("plan-spj-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 3).foreach { i =>
      (0 until 4).foreach(t =>
        log.batchAppend(s"t$t", (0 until 5).map(j => s"v$i$t$j".getBytes("UTF-8"))))
    }
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = s2.read.format("walruslog").option("path", root).load()
      // an aggregate the metadata path can NOT answer, so it must execute
      .groupBy("topic").agg(sum(length(col("value"))).as("bytes"))
    val rows = df.collect()
    assert(rows.length == 4 && rows.forall(_.getLong(1) == 60L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected the key-grouped scan to elide the aggregation shuffle:\n$plan")
    // without the conf, the same plan keeps its exchange (and still agrees)
    val df2 = spark.read.format("walruslog").option("path", root).load()
      .groupBy("topic").agg(sum(length(col("value"))).as("bytes"))
    assert(df2.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1))) ==
      rows.map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("log_spj_join: the oracled storage-partitioned join plans with zero hash exchanges") {
    val plan = planOf("log_spj_join")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected zero exchanges in the storage-partitioned join:\n$plan")
    assert(plan.contains("BatchScan walruslog"), s"not a log-to-log join:\n$plan")
  }

  test("storage-partitioned join: log-to-log on topic elides both exchanges") {
    val rootA = TestDirs.create("plan-spjj-a-").toString
    val rootB = TestDirs.create("plan-spjj-b-").toString
    val a = new graft.log.WalrusLog(spark, rootA)
    val b = new graft.log.WalrusLog(spark, rootB)
    (0 until 3).foreach { t =>
      a.batchAppend(s"t$t", (0 until 4).map(j => s"a$t$j".getBytes("UTF-8")))
      b.batchAppend(s"t$t", (0 until 2).map(j => s"b$t$j".getBytes("UTF-8")))
    }
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def side(root: String, n: String) =
      s2.read.format("walruslog").option("path", root).load()
        .select(col("topic"), col("offset").as(s"off_$n"))
    val joined = side(rootA, "a").join(side(rootB, "b"), "topic")
      .groupBy("topic").agg(count(lit(1)).as("n"))
    val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("t0" -> 8L, "t1" -> 8L, "t2" -> 8L), rows.toString)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected a storage-partitioned join with no exchanges:\n$plan")
  }

  test("walruslog runtime filtering: join values prune commits/topic dirs at runtime") {
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val root = TestDirs.create("plan-rf-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 4).foreach(i =>
      log.batchAppend(s"t$i", (0 until 5).map(j => s"v$i-$j".getBytes("UTF-8"))))

    // mechanics: a runtime filter() call narrows planInputPartitions
    val tbl = new graft.sources.WalrusLogTable(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root)))
    val scan = tbl.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build()
    assert(scan.toBatch.planInputPartitions().length == 4)
    scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[Filter](EqualTo("topic", "t1")))
    assert(scan.toBatch.planInputPartitions().length == 1,
      "runtime topic filter must prune to the single matching file")

    // end-to-end: Spark injects the runtime filter on a broadcast join
    import spark.implicits._
    val dim = Seq(("t2", 1L)).toDF("name", "x")
    val joined = spark.read.format("walruslog").option("path", root).load()
      .join(broadcast(dim), col("topic") === col("name"))
      .select(col("topic"), col("offset"))
    val rows = joined.collect()
    assert(rows.length == 5 && rows.forall(_.getString(0) == "t2"))
    assert(joined.queryExecution.executedPlan.toString.contains("RuntimeFilters"),
      "expected Spark to attach runtime filters to the V2 scan")
  }

  test("walruslog scan statistics: exact metadata counts drive UNHINTED auto-broadcast") {
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val root = TestDirs.create("plan-stats-").toString
    val log = new graft.log.WalrusLog(spark, root)
    log.batchAppend("small", (0 until 3).map(i => s"s$i".getBytes("UTF-8")))   // 6 B payload
    log.batchAppend("big", (0 until 20).map(i => s"bbbb$i".getBytes("UTF-8")))

    // direct: post-pushdown stats are the exact commit-metadata sums
    val tbl = new graft.sources.WalrusLogTable(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root)))
    val sb = tbl.newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array[Filter](EqualTo("topic", "small")))
    val stats = sb.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 3L)
    val meta = graft.log.LogConfig().metaOverheadBytes.toLong
    assert(stats.sizeInBytes().getAsLong == 6L + 3L * meta)

    // end-to-end: NO broadcast hint anywhere — Catalyst picks BHJ because
    // the pruned log side reports a tiny size (a DSv2 scan without stats
    // reports defaultSizeInBytes and could never be auto-broadcast)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val logDf = spark.read.format("walruslog").option("path", root).load()
      .where(col("topic") === "small")
      .select(col("offset"), decode(col("value"), "UTF-8").as("v"))
    val joined = docs.join(logDf, col("doc_id") % 3 === col("offset"))
    val plan = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), s"no auto-broadcast:\n$plan")
    assert(joined.count() > 0)
  }

  test("minhash signatures: scan -> project, no computation shuffle") {
    // the only exchange allowed is the final output orderBy's range
    // partitioning — signatures themselves are per-row (no explode, no
    // aggregation exchange)
    val plan = planOf("dedup_minhash_signatures")
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Generate"), "explode crept back in")
    assert(plan.contains("minhash_signature"), "fused expression missing")
  }

  test("Q6: every predicate reaches the parquet scan as a pushed filter") {
    val plan = planOf("rel_q6_forecast_revenue")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)").foreach { f =>
      assert(plan.contains(f), s"filter not pushed: $f\n$plan")
    }
    assert(!plan.contains("Join"), "Q6 must be join-free")
  }

  test("graph queries scan the materialized co-occurrence fixture, never rebuild it") {
    // r12 bench contract (graph family 59s -> 24s): the per-sfDir coGraph
    // fixture means a graph query's plan contains ONE parquet scan of the
    // edge list — no events scan, no per-user collect_set/explode pair
    // stage upstream of the algorithm itself.
    val plan = planOf("graph_triangles")
    assert(plan.contains("graft-cograph-") || plan.contains("cograph"),
      s"co-occurrence fixture scan missing:\n$plan")
    assert(!plan.contains("events.parquet"),
      s"graph query still rebuilds co-occurrence from events:\n$plan")
  }

  test("Q3: dims broadcast, fact side never shuffles before the join") {
    val plan = planOf("rel_q3_top_orders")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("pair-verify stage (jaccardForPairs): broadcast joins only, no shuffle") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b")
    val plan = graft.operators.Dedup.jaccardForPairs(docs, pairs, "doc_id", "text", k = 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("hashpartitioning"),
      s"verify stage gained a shuffle:\n$plan")
    assert(plan.contains("shingle_overlap"), "fused overlap expression missing")
  }

  test("simhash pairs: pigeonhole equi-join, never an all-pairs BNL join") {
    val plan = planOf("dedup_simhash_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join is back:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
        || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on (chunk_idx, chunk_value):\n$plan")
  }

  test("substring spans: capped gram equi-join + diagonal window, no all-pairs") {
    val plan = planOf("dedup_substring_spans")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("Window"), s"island merge window missing:\n$plan")
    // the span-merge window is partitioned per (pair, diagonal) — never an
    // unpartitioned global sort
    assert(!plan.contains("Window Partition Specification: []"),
      s"unpartitioned window:\n$plan")
  }

  test("edit distance: LSH candidates only — equi-joins, no all-pairs verify") {
    val plan = planOf("dedup_edit_distance")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("levenshtein"), s"exact verify missing:\n$plan")
  }

  test("gopher rules: join-free narrow projection (only the output sort shuffles)") {
    val plan = planOf("text_gopher_rules")
    assert(!plan.contains("Join"), s"rule battery must be join-free:\n$plan")
    assert(!plan.contains("Generate"), s"no explode expected:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle:\n$plan")
  }

  test("balanced assign: equi-join + partitioned windows, no all-pairs") {
    val plan = planOf("sim_kmeans_balanced")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    assert(plan.contains("Window"), s"rank windows missing:\n$plan")
    assert(!plan.contains("Window Partition Specification: []"),
      s"unpartitioned window:\n$plan")
  }

  test("scd2 point-in-time: equi-join on the user key, range stays residual") {
    val plan = planOf("rel_scd2_pointintime")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"PIT lookup must join on the user key, not scan all intervals:\n$plan")
  }

  test("adamic-adar: hub-prefiltered collect_set, equi-join discovery only") {
    // The degree count_distinct runs FIRST and drops hub items, so no
    // executor ever materializes a > maxItemDegree user set; the join back
    // to the relation must be an equi-join on `it` (never all-pairs), and
    // pairs still generate inside the explode stage.
    val plan = planOf("graph_adamic_adar")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"AA discovery must stay an equi-join:\n$plan")
    assert(plan.contains("Generate"), s"in-stage pair explode missing:\n$plan")
    assert(plan.contains("collect_set"), s"user-set aggregation missing:\n$plan")
    // the degree prefilter is the distinct-count aggregation upstream of
    // the join; its filter bounds collect_set's per-item state
    assert(plan.contains("count(distinct") || plan.contains("count(u"),
      s"degree prefilter aggregation missing:\n$plan")
  }

  test("embedding neardup: LSH-banded equi-join discovery, no all-pairs") {
    val plan = planOf("dedup_embedding_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join is back:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
  }

  test("star-bucket LSH pairs: equi-joins only, no all-pairs, and the cluster path carries the bucket-stats aggregate") {
    // the r13 scale fix (BASELINE.md slopes table): oversized band buckets
    // emit hub-and-spoke pairs, O(B) not O(B²). The plan must stay pure
    // equi-join (band, bkey) — no BNL/cartesian — and the star path's
    // bucket-stats aggregate must actually be present (if a refactor
    // silently drops the threshold, the clique comes back quadratic).
    val plan = planOf("dedup_lsh_star_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join is back:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("_bn") && plan.contains("_bmin"),
      s"star bucket-stats aggregate missing — clique fan-out is back:\n$plan")
    // The 8 CC consumers run through the shared lshClusterPairs helper —
    // their own plans can't show the aggregate (connectedComponents is an
    // eager RDD loop; the final plan is a scan of its result), so pin the
    // cap at the source: the helper must keep passing a Some threshold.
    val src = new String(Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val helper = src.substring(src.indexOf("private def lshClusterPairs"))
      .takeWhile(_ != '}')
    assert(helper.contains("starBucketThreshold = Some("),
      "lshClusterPairs dropped the star-bucket cap — CC fan-out is quadratic again")
  }

  test("video container lanes: metadata-only scans stay narrow, no joins at all") {
    // the MP4/AVI box walks are per-row partition-local maps over the
    // payload column: the plan must contain no join or aggregation before
    // the final sort — a join appearing here means the codec lane started
    // shuffling payloads.
    Seq("mm_video_meta", "mm_avi_meta", "mm_mkv_meta",
        "mm_frame_sample_mp4", "mm_frame_sample_avi",
        "mm_frame_sample_mkv").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q grew a join over payloads:\n$plan")
    }
  }

  test("archive and compressed lanes: partition-local flatMaps, no joins or shuffles before the sort") {
    // gzip inflate / zip / tar / tgz expansion must stay 1-row-in
    // k-rows-out inside the scan partition — a join or aggregate here
    // means payload bytes started crossing the wire.
    Seq("mm_gzip_text", "mm_zip_members", "mm_tar_members",
        "mm_tgz_members").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q grew a join over payloads:\n$plan")
      assert(!plan.contains("HashAggregate"), s"$q grew an aggregate:\n$plan")
    }
  }

  test("global top-k queries rank via distributed TakeOrdered, not a window") {
    Seq("text_pmi_bigrams", "text_passage_dedup").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q lost its distributed top-k:\n$plan")
    }
  }

  test("decontaminate: eval codes broadcast, train side never pre-shuffles") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.operators.Dedup.decontaminate(
        docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval probe is not a broadcast semi-join:\n$plan")
    // the train side must reach the probe unshuffled: the only exchanges
    // are the eval-side distinct and the post-probe per-doc aggregate
    val beforeProbe = plan.split("LeftSemi").head
    assert(!beforeProbe.contains("Exchange hashpartitioning(code"),
      s"train shingles shuffled before the probe:\n$plan")
  }

  test("sq8 audit: fused per-row pass against broadcast bounds, no shuffle") {
    val plan = planOf("sim_sq8_recon")
    assert(plan.contains("sq8_recon"), "fused sq8_recon missing")
    assert(plan.contains("BroadcastExchange"),
      s"1-row bounds must broadcast:\n$plan")
    // the corpus itself is scanned once and never hash-shuffled (the only
    // other exchange is the output orderBy's range partitioning)
    assert(!plan.contains("hashpartitioning"),
      s"corpus shuffled on the sq8 path:\n$plan")
  }

  test("zipf: TakeOrdered head + bounded rank, no window operator at all") {
    val plan = planOf("text_zipf")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N head is not a distributed TakeOrdered:\n$plan")
    assert(!plan.contains("Window"),
      s"rank must come from the bounded sort_array, not a window:\n$plan")
  }

  test("diversity sample: window partitioned by cell, never global") {
    val plan = planOf("shard_diversity_sample")
    assert(plan.contains("Window"), s"expected a ranking window:\n$plan")
    assert(plan.contains("hashpartitioning(cell"),
      s"window must partition by the IVF cell:\n$plan")
  }

  test("curriculum rank: window partitioned by value bucket, never global") {
    val plan = planOf("shard_curriculum")
    assert(plan.contains("hashpartitioning(_bkt"),
      s"rank window must partition by the score bucket:\n$plan")
  }

  test("pii scrub: one narrow codegen'd projection, no shuffle") {
    val plan = planOf("text_pii_scrub")
    assert(!plan.contains("hashpartitioning"),
      s"scrub projection gained a shuffle:\n$plan")
    assert(!plan.contains("Generate"), "explode crept into the scrub path")
  }

  test("winnow pairs: fused fingerprints + equi-join, never all-pairs") {
    val plan = planOf("dedup_winnow_pairs")
    assert(plan.contains("winnow_fingerprints"),
      s"fused winnowing expression dropped out of the plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the fingerprint match:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
  }

  test("dsir weights: one token-stream aggregate, weights broadcast back") {
    val plan = planOf("text_dsir_weights")
    // the per-doc-bucket aggregate feeds BOTH the histogram and the final
    // per-doc sum; the weight table must come back as a broadcast, and the
    // only non-broadcast joins allowed are with that ≤nBuckets-row side
    assert(plan.contains("BroadcastExchange"),
      s"weight table must broadcast back onto the doc-bucket aggregate:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept into the weight application:\n$plan")
  }

  test("epoch shuffle: rank window partitioned by (epoch, bucket), never global") {
    val plan = planOf("shard_epoch_shuffle")
    assert(plan.contains("hashpartitioning(epoch"),
      s"rank window must partition by (epoch, hash bucket):\n$plan")
  }

  test("derived-partsupp queries: dims broadcast, fact side never merge-joins") {
    // ps is derived FROM part, so part attributes must ride the
    // derivation (no part ⨝ ps self-artifact join), and every dim join
    // on the lineitem side must broadcast
    Seq("rel_q9_nation_profit", "rel_q20_scarce_stock").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SortMergeJoin"),
        s"$q: dimension join fell back to a shuffle join:\n$plan")
    }
    val q2 = planOf("rel_q2_min_cost_supplier")
    assert(!q2.contains("SortMergeJoin"),
      s"q2: part re-joined to its own derivative:\n$q2")
    assert(q2.contains("TakeOrderedAndProject"),
      s"q2 head must be a distributed top-k:\n$q2")
  }

  test("semantic dedup: pair join is an equi-join on the cell id, never all-pairs") {
    val plan = planOf("dedup_semantic")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join crept in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("centroid_id"), s"cell key missing from plan:\n$plan")
  }

  test("Q21 rewrite: no correlated self-join artifacts, distributed top-k head") {
    // the EXISTS / NOT EXISTS pair is rewritten to one aggregation over
    // the orderkey shuffle — the plan must carry NO nested-loop or
    // cartesian artifact of a correlated-subquery fallback, broadcast the
    // supplier/nation dims, and end in a distributed top-k
    val plan = planOf("rel_q21_waiting_supplier")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"correlated fallback crept in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"head must be a distributed top-k:\n$plan")
  }

  test("pq codes: one fused expression per row, no slices or structs") {
    import spark.implicits._
    val emb = (0L until 20L)
      .map(i => (i, Array.fill(64)((i % 7).toFloat / 7f).toSeq))
      .toDF("vec_id", "embedding")
    val plan = graft.operators.Similarity.pqCodes(emb, "vec_id", "embedding")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("pq_code"), "fused pq_code missing")
    assert(!plan.contains("greatest"), s"unfused struct chain present:\n$plan")
    assert(!plan.contains("Exchange"), "pq codes must not shuffle")
  }

  test("adc rerank: shortlist + query vectors broadcast, corpus never merge-joins") {
    // stage 1 (ADC) deliberately broadcasts the tiny LUT over the code
    // scan; stage 2 must reattach full vectors through broadcast hash
    // joins only — a SortMergeJoin here would shuffle the corpus twice
    val plan = planOf("sim_adc_rerank")
    assert(plan.contains("BroadcastHashJoin"),
      s"rerank lost its broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$plan")
    assert(plan.contains("pq_code"), "fused pq_code missing from stage 1")
  }

  test("cdc chunks: fused rolling shingle pass, equi-joins only") {
    val plan = planOf("dedup_cdc_chunks")
    assert(plan.contains("shingle_codes"),
      s"fused rolling-hash pass missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join crept in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
  }

  test("token entropy: pure aggregate pipeline, no joins") {
    val plan = planOf("text_entropy")
    assert(!plan.contains("Join"), s"entropy must be join-free:\n$plan")
  }

  test("mixture weights: corpus aggregates once, totals broadcast back") {
    val plan = planOf("shard_mixture_weights")
    assert(!plan.contains("SortMergeJoin"),
      s"per-domain rows must never shuffle-join the 1-row totals:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin") || plan.contains("CartesianProduct"),
      s"expected the broadcast totals join:\n$plan")
  }

  test("novelty: single corpus scan, join-free, window partitioned by code") {
    // first-occurrence attribution must NOT self-join the shingle set (two
    // scans + a broadcast of the unboundable distinct-shingle table); the
    // contract is one scan, a partition-local distinct riding the
    // repartition(code) exchange, and a code-partitioned window.
    val plan = planOf("text_novelty")
    assert(!plan.contains("Join"), s"novelty must be join-free:\n$plan")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size == 1,
      s"corpus must be scanned exactly once:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL"),
      s"expected the explicit repartition(code) exchange:\n$plan")
    assert(plan.contains("windowspecdefinition(code"),
      s"window must be partitioned by code, never global:\n$plan")
  }

  test("quality classifier: formula weights, join-free, no broadcast") {
    // the weight is a per-row formula of the feature bucket — scoring must
    // stay explode -> narrow projection -> per-doc sum with no weight-table
    // join (the broadcast variant is only for served real-model weights)
    val plan = planOf("text_quality_classifier")
    assert(!plan.contains("Join"), s"classifier scoring must be join-free:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"no weight table may broadcast — weights are a formula:\n$plan")
    assert(plan.contains("fnv1a64"), s"fused token hash missing:\n$plan")
  }

  test("semantic decontamination: eval side broadcasts, corpus never shuffles") {
    val plan = planOf("shard_decontaminate_semantic")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the deliberate broadcast eval x train scoring pass:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"train corpus must not shuffle against the tiny eval set:\n$plan")
  }

  test("hard negatives: cell-local equi-join, window per anchor") {
    val plan = planOf("sim_hard_negatives")
    assert(plan.contains("BroadcastHashJoin"),
      s"anchors must broadcast onto corpus cells via the cid equi-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
      s"all-pairs join crept into cell-local mining:\n$plan")
    assert(plan.contains("windowspecdefinition(query_id"),
      s"rank window must be partitioned by the anchor:\n$plan")
  }

  test("hybrid rrf: broadcast lexical probe, fusion joins only k-bounded lists") {
    val plan = planOf("sim_hybrid_rrf")
    assert(plan.contains("BroadcastHashJoin"),
      s"query shingles must broadcast onto the corpus shingle set:\n$plan")
    // the vector list is the deliberate broadcast-query BNL of
    // sim_topk_bruteforce; what must NEVER appear is a non-broadcast
    // all-pairs join or a corpus-scale shuffle join
    assert(!plan.contains("CartesianProduct"),
      s"non-broadcast all-pairs join crept into hybrid retrieval:\n$plan")
    // the ONLY merge join allowed is the FullOuter fusion of the two
    // top-k lists (k-bounded per query; full-outer cannot broadcast)
    assert(!plan.contains("SortMergeJoin Inner"),
      s"corpus-scale inner join must not sort-merge:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must push into the window sort:\n$plan")
  }

  test("bloom probe: set-bit table broadcasts, no all-pairs join") {
    // the filter table is <= mBits 8-byte rows -> must broadcast onto the
    // batch probes; the exact verify is an equi semi-join on the 8-byte
    // text hash. The batch must NEVER join the full prior corpus without
    // the bloom gate, and nothing may go all-pairs.
    val plan = planOf("dedup_bloom_probe")
    assert(plan.contains("BroadcastHashJoin"),
      s"set-bit table must broadcast onto the probes:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
      s"all-pairs join crept into the membership gate:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"exact verify must stay a semi-join:\n$plan")
  }

  test("bpe pairs: vocabulary-sized explode, join-free, distributed top-k") {
    // pairs explode over the word-frequency TABLE (cost per vocabulary
    // type), never the raw token stream, and the head is TakeOrdered,
    // not a global single-task window
    val plan = planOf("text_bpe_pairs")
    assert(!plan.contains("Join"), s"bpe counting must be join-free:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a distributed TakeOrdered:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"no global rank window allowed:\n$plan")
    // two Generates: token split explode + per-word pair explode; the
    // second must consume the aggregated word-frequency table (an
    // exchange sits between them)
    assert("""Generate""".r.findAllIn(plan).size >= 2, s"explodes missing:\n$plan")
  }

  test("length buckets: narrow projection, join-free, no explode") {
    // token count is size(split(..)) per row — the corpus must never
    // explode to tokens, and the output is bounded by the bucket count
    val plan = planOf("shard_length_buckets")
    assert(!plan.contains("Join"), s"bucketing must be join-free:\n$plan")
    assert(!plan.contains("Generate"), s"no token explode allowed:\n$plan")
  }

  test("canonical selection: cluster-partitioned window, never global") {
    val plan = planOf("dedup_canonical")
    assert(plan.contains("windowspecdefinition(cluster_id"),
      s"representative pick must partition by cluster:\n$plan")
    assert(!plan.contains("windowspecdefinition(ORDER"),
      s"global window crept in:\n$plan")
  }

  test("phash near-dup: pigeonhole equi-join, no all-pairs") {
    val plan = planOf("mm_phash_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
      s"all-pairs join crept into hamming discovery:\n$plan")
    assert(plan.contains("fnv1a64"), s"fused payload hash missing:\n$plan")
  }

  test("lexical knn: bucket-bounded discovery, doc-partitioned rank") {
    // posting lists are built under code-partitioned windows and ranked by
    // one per-document aggregate: no (doc, doc) pair row ever exists
    val plan = planOf("sim_knn_lexical")
    assert(!plan.contains("Join"), s"no pair row may exist — join-free:\n$plan")
    assert(plan.contains("co_occurrence_top_k"),
      s"ranking must be the fused co-occurrence aggregate:\n$plan")
    val specs = "windowspecdefinition\\((\\w+)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSet
    assert(specs == Set("code"),
      s"the only windows partition by shingle code, got $specs:\n$plan")
    assert(plan.contains("hashpartitioning(src"),
      s"posting lists must be hash-partitioned by source doc:\n$plan")
  }

  test("schema evolution: merged read stays join-free") {
    val plan = planOf("rel_schema_evolution")
    assert(!plan.contains("Join"),
      s"generation merge must happen in the scan, not a join:\n$plan")
    assert(plan.contains("quality_milli"),
      s"evolved column missing from merged schema:\n$plan")
  }

  test("partition pruning: lang predicate reaches PartitionFilters") {
    // the predicate must prune DIRECTORIES at planning time, not filter
    // rows after IO — PartitionFilters on the scan, not PushedFilters
    val plan = planOf("rel_partition_pruning")
    assert("""PartitionFilters: \[[^\]]*lang[^\]]*= en""".r
        .findFirstIn(plan).isDefined,
      s"lang predicate must be a partition filter:\n$plan")
  }

  test("bucketed join: no exchange on either side, bucketed scans") {
    // both scans carry the join distribution (Bucketed: true); with
    // broadcast disabled the join must still run shuffle-free — no
    // hashpartitioning exchange on either join key
    val plan = planOf("rel_bucketed_join")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a co-located non-broadcast join:\n$plan")
    assert("""Bucketed: true""".r.findAllIn(plan).size >= 2,
      s"both scans must be bucketed:\n$plan")
    assert(!plan.contains("hashpartitioning(doc_id") &&
        !plan.contains("hashpartitioning(vec_id"),
      s"bucketed join must not re-shuffle a side:\n$plan")
  }

  test("pagerank: every iteration joins by equi-key, never nested-loop") {
    val plan = planOf("graph_pagerank")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("centroid outliers: one narrow projection, no shuffle before the sort") {
    val plan = planOf("sim_centroid_outliers")
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
    assert(plan.contains("projection_dot"), "fused projection expression missing")
  }

  test("zorder layout: join-free aggregate over one scan") {
    val plan = planOf("rel_zorder_layout")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
    assert(plan.contains("partial"), s"map-side partial agg expected:\n$plan")
  }

  test("scd2 history: lag/lead/rank share ONE user partition exchange") {
    val plan = planOf("rel_scd2_history")
    val exchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly one user_id exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
  }

  test("retention cohorts: join-free, one user exchange feeds distinct + window") {
    val plan = planOf("rel_retention_cohorts")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userExchanges == 1,
      s"expected ONE user_id exchange, got $userExchanges:\n$plan")
    assert("windowspecdefinition\\(user_id".r.findFirstIn(plan).isDefined,
      s"cohort window must partition by user_id:\n$plan")
  }

  test("triangles: 2-path and closure are equi-joins, never nested-loop") {
    val plan = planOf("graph_triangles")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("scene detect: frame lag window partitioned by media id, never global") {
    val plan = planOf("mm_scene_detect")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan).isDefined,
      s"lag window must partition by doc_id:\n$plan")
  }

  test("inverted index: posting window partitioned by token, never global") {
    val plan = planOf("text_inverted_index")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi join:\n$plan")
    // the rank window must carry the word partition key (a global window
    // would print an empty windowspecdefinition partition list)
    assert("windowspecdefinition\\(word".r.findFirstIn(plan).isDefined,
      s"posting window must partition by word:\n$plan")
  }

  test("skyline: both windows partitioned (per-day rank, per-range prefix max)") {
    // r14: the per-day Pareto base is localCheckpoint'd (it feeds both the
    // driver's range-base collect and the final window — one orders scan
    // instead of two), so the returned plan starts from the materialized
    // day table (Scan ExistingRDD) and the per-day rank window is asserted
    // on the base's own plan, from the builder the query checkpoints.
    val plan = planOf("rel_skyline")
    assert(plan.contains("Scan ExistingRDD"),
      s"per-day Pareto base must be materialized once (checkpoint):\n$plan")
    assert("windowspecdefinition\\(rng".r.findFirstIn(plan).isDefined,
      s"prefix max must run range-partitioned, not global:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi join:\n$plan")
    val basePlan = SparkEntry.skylineDayBest(
        spark.read.parquet(s"$sfDir/orders.parquet"))
      .queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(day".r.findFirstIn(basePlan).isDefined,
      s"per-day rank window must partition by day:\n$basePlan")
  }

  test("label propagation: every round is an equi-join, never nested-loop") {
    val plan = planOf("graph_label_prop")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("gaps-and-islands: streak window partitioned by user, never global") {
    val plan = planOf("rel_gaps_islands")
    assert("windowspecdefinition\\(user_id".r.findFirstIn(plan).isDefined,
      s"streak window must partition by user_id:\n$plan")
    assert(!plan.contains("Join"), "gaps-and-islands must be join-free")
  }

  test("cdc apply: one aggregation exchange, join-free") {
    val plan = planOf("rel_cdc_apply")
    assert(!plan.contains("Join"), s"cdc apply must be join-free:\n$plan")
    // formatted mode prints the exchange's partitioning in its detail
    // block: exactly one hash exchange (the k aggregation); the only other
    // partitioning is the output sort's range exchange
    val exchanges = "hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 agg exchange, got $exchanges:\n$plan")
  }

  test("format sniff and chunk windows: narrow per-row passes, join-free") {
    val sniff = planOf("mm_format_sniff")
    assert(!sniff.contains("Join") && !sniff.contains("hashpartitioning"),
      s"format sniff gained a join/shuffle:\n$sniff")
    val chunks = planOf("text_chunk_windows")
    assert(!chunks.contains("Join") && !chunks.contains("hashpartitioning"),
      s"chunk windows gained a join/shuffle:\n$chunks")
  }

  test("binary quant: per-row packed projection, no explode") {
    val plan = planOf("sim_binary_quant")
    assert(plan.contains("bit_count"), "hamming must use bit_count")
    assert(!plan.contains("Generate"), s"explode crept into the quantize:\n$plan")
  }

  test("bfs layers and personalized pagerank: equi-join rounds, never nested-loop") {
    Seq("graph_bfs_layers", "graph_ppr").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q BNL join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
    }
  }

  test("betweenness: forward/backward levels are equi-joins, never all-pairs") {
    // both passes run per (root, node): edges join frontiers/levels on
    // node keys only — a nested-loop anywhere would be the O(V·E)
    // exact-Brandes shape the sampling exists to avoid
    val plan = planOf("graph_betweenness")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("modularity: label/degree joins are equi-joins; m joins as a 1-row broadcast") {
    val plan = planOf("graph_modularity")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"node-keyed joins should stay hash/broadcast at this size:\n$plan")
  }

  test("recursive CTE: runs as UnionLoop, no manual unrolling") {
    val plan = planOf("rel_recursive_cte")
    assert(plan.contains("UnionLoop"), s"recursion must plan as UnionLoop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("threshold sweep: banded discovery join, no all-pairs") {
    val plan = planOf("sim_threshold_sweep")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("projection_dot"), "fused hyperplane projection missing")
  }

  test("temporal split: broadcast bounds row, corpus never shuffle-joined") {
    val plan = planOf("shard_temporal_split")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"bounds must broadcast, never shuffle the corpus:\n$plan")
  }

  test("jelinek-mercer: count joins are equi-joins, N embedded as a literal") {
    val plan = planOf("text_jelinek_mercer")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi join:\n$plan")
  }

  test("tombstone compaction: one max_by aggregation, no per-key sort window") {
    val root = TestDirs.create("plan-tomb-").toString
    val log = new graft.log.WalrusLog(spark, root)
    log.batchAppend("t", Seq("1|a", "2|b", "1|", "2|bb").map(_.getBytes("UTF-8")))
    val decoded = decode(col("value"), "UTF-8")
    val plan = log.compactKeyed(
        substring_index(decoded, "|", 1).cast("long"),
        length(decode(col("value"), "UTF-8")) ===
          length(substring_index(decode(col("value"), "UTF-8"), "|", 1)) + 1)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Window"), s"keep-last must not sort per key:\n$plan")
    assert(plan.contains("max_by"), s"arg-max aggregation expected:\n$plan")
    assert(!plan.contains("Join"), s"must be join-free:\n$plan")
  }

  test("hits: per-iteration lineage is truncated — the final plan is FLAT") {
    val plan = planOf("graph_hits")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // The r7 post-mortem: join-TYPE checks passed while the plan held up
    // to 2^(2·iterations) copies of the edges⋈scores subtree (30 s on an
    // input adamicAdar handles in ~1 s), because each normalize
    // referenced its input twice and nothing truncated lineage between
    // iterations. With per-iteration localCheckpoint the FINAL plan must
    // be flat: only the last normalize of each side survives (two
    // checkpointed scans + two 1-row totals), so the join count is a
    // small constant, not exponential in iterations. 4 iterations
    // un-truncated would show dozens of joins; flat shows ≤ 4.
    // count TREE nodes only ("<Op> (<id>)"), not the detail section
    val joins = """Join[a-zA-Z ]* \(\d+\)""".r.findAllIn(plan).length
    assert(joins <= 4, s"expected a flat post-checkpoint plan, found $joins joins:\n$plan")
    val scans = """Scan ExistingRDD[a-zA-Z ]* \(\d+\)""".r.findAllIn(plan).length
    assert(scans >= 1 && scans <= 8,
      s"expected checkpointed per-iteration scans, found $scans:\n$plan")
    // and nothing re-reads the raw events fixture in the final plan — the
    // base scan was consumed by the first checkpoint
    assert(!plan.contains("Scan parquet"), s"base scan re-read post-checkpoint:\n$plan")
  }

  test("link predict: pairs generate inside the explode, degree joins are equi-joins") {
    val plan = planOf("graph_link_predict")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("Generate"), s"explode pair generation missing:\n$plan")
  }

  test("self-bleu: reference caps come from keyed aggregation, never an all-pairs join") {
    val plan = planOf("text_selfbleu")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
  }

  test("hdr quantile sketch: one sketch aggregation over the data, windows only on histogram rows") {
    // the corpus contributes through exactly ONE hdr_hist_sketch
    // aggregate (map-side <= 64*16-entry partials); the rank walk's
    // global window and non-equi rank join run over sketch OUTPUT rows,
    // never data-scale inputs
    val plan = planOf("sketch_quantile_doclen")
    assert(plan.contains("hdr_hist_sketch"), s"sketch aggregate missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // grouped form: window is PARTITIONED by the group
    val gplan = planOf("sketch_quantile_grouped")
    assert(gplan.contains("hdr_hist_sketch"), s"sketch aggregate missing:\n$gplan")
    assert(!gplan.contains("CartesianProduct"), s"cartesian:\n$gplan")
  }

  test("count-min probe joins broadcast the SKETCH, never the corpus") {
    val plan = planOf("sketch_cms_tokens")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the cells lookup must be a broadcast equi-join on (j, cell)
    assert(plan.contains("BroadcastHashJoin"), s"cells join not broadcast:\n$plan")
  }

  test("hll registers: max-merged aggregation, no distinct expand over the corpus") {
    val plan = planOf("sketch_hll_langs")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("Expand"), // COUNT(DISTINCT) rides one Expand-free
      s"distinct expand leaked into the sketch path:\n$plan")
  }

  test("ccnet pipeline: no cartesian, no unpartitioned data-scale window") {
    val plan = planOf("pipeline_ccnet")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the tercile windows ride the non-foldable all-zero partition key
    assert(!plan.contains("Window Partition Specification: []"),
      s"unpartitioned window:\n$plan")
  }

  test("ts pruning survives compaction: the compaction commit's inherited bounds prune it") {
    // log_ts_pruned_compacted probes ts_us >= T0+2h over a log whose
    // first two commits (T0, T0+1h) were compacted: the compaction
    // commit's inherited per-topic bounds [T0, T0+1h] must prune it from
    // metadata, leaving ONLY the post-compaction commit's purchase file
    val q = SparkEntry.queries("log_ts_pruned_compacted")(spark, sfDir)
    q.collect()
    // QueryStageExec is a LeafExecNode: recurse into stages explicitly
    def scanParts(p: org.apache.spark.sql.execution.SparkPlan): Int = p.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scanParts(s.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanParts(a.executedPlan)
    }.sum
    val parts = scanParts(q.queryExecution.executedPlan)
    assert(parts == 1,
      s"expected the compaction commit pruned by its ts bounds, planned $parts partitions")
    val plan = planOf("log_ts_pruned_compacted")
    assert(plan.contains("ts_us >="), s"ts bound not pushed:\n$plan")
  }

  test("log_time_travel_ts: the timestamp as-of view still answers its aggregate from metadata") {
    val plan = planOf("log_time_travel_ts")
    assert(plan.contains("WalrusAggRowsScan"),
      s"as-of-timestamp aggregate not answered from commit metadata:\n$plan")
  }

  test("log_ts_agg_metadata: MIN/MAX(ts_us) answered from metadata across compaction") {
    val plan = planOf("log_ts_agg_metadata")
    assert(plan.contains("WalrusAggRowsScan"),
      s"ts aggregate not answered from commit metadata:\n$plan")
    assert(!plan.contains("WalrusLogScan"),
      s"a data scan survived next to the metadata answer:\n$plan")
  }

  test("a compaction commit stripped of its ts bounds fails the scan and the log open, naming the file") {
    val root = TestDirs.create("plan-tslegacy-").toString
    val log = new graft.log.WalrusLog(spark, root)
    val t0 = 1704067200000L
    def one(v: String, tsMs: Long) = log.appendDF(
      spark.createDataFrame(Seq(("t", v.getBytes("UTF-8")))).toDF("topic", "value"),
      ingestTs = new java.sql.Timestamp(tsMs))
    one("a", t0); one("b", t0 + 3600000L)
    val cid = log.compact().get
    // the shape of a compaction commit persisted before ts bounds existed
    val cPath = java.nio.file.Paths.get(root, "default", "commits", f"$cid%012d.json")
    val stripped = new String(Files.readAllBytes(cPath), "UTF-8")
      .replaceAll(",\"tsUsMin\":-?\\d+", "").replaceAll(",\"tsUsMax\":-?\\d+", "")
    assert(!stripped.contains("tsUsMin"))
    Files.write(cPath, stripped.getBytes("UTF-8"))
    def failure(body: => Any): String =
      intercept[IllegalStateException](body).getMessage
    val scan = failure(spark.read.format("walruslog").option("path", root).load()
      .groupBy("topic").agg(min("ts_us"), max("ts_us")).collect())
    assert(scan.contains(cPath.toString) && scan.contains("tsUsMin"), scan)
    val open = failure(new graft.log.WalrusLog(spark, root))
    assert(open.contains(cPath.toString) && open.contains("tsUsMin"), open)
  }

  test("SPJ partition planning is memoized: one dir walk per scan, however often Spark re-plans") {
    val root = TestDirs.create("plan-spj-memo-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 3).foreach(t =>
      log.batchAppend(s"t$t", (0 until 4).map(j => s"v$t$j".getBytes("UTF-8"))))
    val s2 = org.apache.spark.sql.graft.GraftSqlInternal.cloneSession(spark)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = s2.read.format("walruslog").option("path", root).load()
      .groupBy("topic").agg(sum(length(col("value"))).as("bytes"))
    val before = graft.sources.WalrusLogSource.partitionPlanCount.get()
    val rows = df.collect()
    assert(rows.length == 3)
    val walks = graft.sources.WalrusLogSource.partitionPlanCount.get() - before
    // Spark calls outputPartitioning on every plan of the scan AND plans
    // execution partitions — all must share ONE listing per scan lifetime
    assert(walks == 1L, s"expected 1 partition-planning dir walk, saw $walks")
  }

  test("TopN pushdown is per-topic: multi-topic ORDER BY offset LIMIT k stays exact") {
    // ADVICE r8 repro: offsets are PER-TOPIC counters, so a commit-prefix
    // trim by TOTAL covered rows would return topic a's {0,1,2} and miss
    // topic b's 0. commit0 = a:0-5, commit1 = b:0-2.
    val root = TestDirs.create("plan-topn-mt-").toString
    val log = new graft.log.WalrusLog(spark, root)
    log.batchAppend("a", (0 until 6).map(i => s"a$i".getBytes("UTF-8")))
    log.batchAppend("b", (0 until 3).map(i => s"b$i".getBytes("UTF-8")))
    val df = spark.read.format("walruslog").option("path", root).load()
    val asc = df.orderBy(col("offset").asc, col("topic"))
      .limit(3).select("topic", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(asc == Seq(("a", 0L), ("b", 0L), ("a", 1L)), asc.toString)
    // DESC mirror: the true global tail is a:5, a:4, a:3 — but trimming
    // by totals from the newest commit (b, 3 rows) would have starved a
    val desc = df.orderBy(col("offset").desc, col("topic"))
      .limit(3).select("topic", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(desc == Seq(("a", 5L), ("a", 4L), ("a", 3L)), desc.toString)
    // per-topic trimming still prunes: a single-topic tail over many
    // commits opens only the newest commits of that topic
    (0 until 8).foreach(i =>
      log.batchAppend("c", (0 until 4).map(j => s"c$i$j".getBytes("UTF-8"))))
    val tail = spark.read.format("walruslog").option("path", root).load()
      .where(col("topic") === "c").orderBy(col("offset").desc).limit(3)
    assert(tail.collect().map(_.getAs[Long]("offset")).toSeq ==
      Seq(31L, 30L, 29L))
    tail.collect()
    val parts = tail.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
    assert(parts <= 2, s"expected a trimmed tail, planned $parts partitions")
  }

  test("TopN on ts_us: tail-by-time opens only the newest commits") {
    val root = TestDirs.create("plan-topn-ts-").toString
    val log = new graft.log.WalrusLog(spark, root)
    val t0 = 1704067200000L
    (0 until 6).foreach { i =>
      log.appendDF(
        spark.createDataFrame((0 until 10).map(j => ("t", s"v$i$j".getBytes("UTF-8"))))
          .toDF("topic", "value"),
        ingestTs = new java.sql.Timestamp(t0 + i * 60000L))
    }
    val df = spark.read.format("walruslog").option("path", root).load()
    val tail = df.orderBy(col("offset").desc).limit(1) // warm nothing; real probe below
    tail.collect()
    val q = df.orderBy(col("ts_us").desc).limit(15)
    val got = q.collect().map(_.getAs[Long]("ts_us")).sorted.reverse.toSeq
    // true top-15 by time: all 10 rows of the newest commit + 5 of the next
    assert(got.count(_ == (t0 + 5 * 60000L) * 1000L) == 10 &&
      got.count(_ == (t0 + 4 * 60000L) * 1000L) == 5, got.mkString(","))
    val parts = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
    assert(parts == 2, s"expected the 2 newest commits planned, got $parts")
    // ASC head-by-time mirrors
    val head = df.orderBy(col("ts_us").asc).limit(15)
    val hgot = head.collect().map(_.getAs[Long]("ts_us")).sorted.toSeq
    assert(hgot.count(_ == t0 * 1000L) == 10 &&
      hgot.count(_ == (t0 + 60000L) * 1000L) == 5, hgot.mkString(","))
  }

  private def scannedParts(q: org.apache.spark.sql.DataFrame): Int = {
    q.collect()
    q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
  }

  private def scannedFiles(q: org.apache.spark.sql.DataFrame): Seq[graft.sources.WalrusFile] = {
    q.collect()
    q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap(_.asInstanceOf[graft.sources.WalrusFilePartition].files)
    }.flatten
  }

  test("TopN trimming survives compaction: per-topic RANGE order, not commit-id order") {
    // A compaction commit carries OLD offsets (and a ts RANGE) at a NEW
    // commit id — r9 yielded the whole commit list whenever one existed,
    // so tailing a compacted log read everything exactly when it was
    // oldest/largest. r10 orders each topic's commits by its RECORDED
    // offset range (and walks ts by guaranteed bounds), so the tail stays
    // O(k) files at any compaction age (VERDICT r9 item 1).
    val root = TestDirs.create("plan-topn-cp-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 3).foreach(i =>
      log.batchAppend("t", (0 until 4).map(j => s"v$i$j".getBytes("UTF-8"))))
    assert(log.compact().nonEmpty) // offsets 0-11 now live at the NEWEST id
    log.batchAppend("t", (0 until 4).map(j => s"w$j".getBytes("UTF-8")))
    val df = spark.read.format("walruslog").option("path", root).load()
    // ASC top-3 lives in the compaction commit at the END of the id order;
    // a commit-ID-prefix trim would wrongly return {12,13,14}
    val ascQ = df.orderBy(col("offset").asc).limit(3)
    val asc = ascQ.collect().map(_.getAs[Long]("offset")).toSeq
    assert(asc == Seq(0L, 1L, 2L), asc.toString)
    assert(scannedParts(ascQ) == 1,
      "ASC offset top-3 must plan only the compaction commit's file")
    val descQ = df.orderBy(col("offset").desc).limit(3)
    val desc = descQ.collect().map(_.getAs[Long]("offset")).toSeq
    assert(desc == Seq(15L, 14L, 13L), desc.toString)
    assert(scannedParts(descQ) == 1,
      "DESC offset top-3 must plan only the post-compaction ingest commit")
    // ts-TopN trims too: the compaction commit is a ts RANGE [t0, t2]
    // inherited over its sources, the tail ingest commit a later point —
    // ASC threshold lands inside the compaction range, excluding the tail
    val tsAscQ = df.orderBy(col("ts_us").asc).limit(3)
    tsAscQ.collect()
    assert(scannedParts(tsAscQ) == 1,
      "ASC ts top-3 must plan only the compaction commit")
  }

  test("TopN trimming on a compacted MULTI-topic log covers every topic independently") {
    // the compaction-aware twin of the per-topic ADVICE r8 repro: topic a
    // compacted (old offsets at the newest id), topic b ingested after —
    // per-topic range ordering must cover BOTH topics' tails
    val root = TestDirs.create("plan-topn-cpmt-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 3).foreach(i =>
      log.batchAppend("a", (0 until 4).map(j => s"a$i$j".getBytes("UTF-8"))))
    assert(log.compact().nonEmpty) // a: offsets 0-11 at the newest id
    log.batchAppend("b", (0 until 3).map(j => s"b$j".getBytes("UTF-8")))
    val df = spark.read.format("walruslog").option("path", root).load()
    val descQ = df.orderBy(col("offset").desc, col("topic")).limit(3)
    val desc = descQ.collect()
      .map(r => (r.getAs[String]("topic"), r.getAs[Long]("offset"))).toSeq
    assert(desc == Seq(("a", 11L), ("a", 10L), ("a", 9L)), desc.toString)
    // both topics' newest commits plan (a's tail = the compaction commit,
    // b's tail = its only commit) — and nothing else exists to plan here,
    // so the real assertion is ASC below
    val ascQ = df.orderBy(col("offset").asc, col("topic")).limit(2)
    val asc = ascQ.collect()
      .map(r => (r.getAs[String]("topic"), r.getAs[Long]("offset"))).toSeq
    assert(asc == Seq(("a", 0L), ("b", 0L)), asc.toString)
  }

  test("builder and built scan share ONE commit listing (ts-aggregate offer included)") {
    val root = TestDirs.create("plan-onelist-").toString
    val log = new graft.log.WalrusLog(spark, root)
    (0 until 3).foreach(i =>
      log.batchAppend("t", (0 until 4).map(j => s"v$i$j".getBytes("UTF-8"))))
    // MIN/MAX(ts_us) forces the builder's tsBoundsKnown check AND builds
    // the metadata aggregate scan — both must ride one listing
    val before = graft.sources.WalrusLogSource.commitListCount.get()
    val agg = spark.read.format("walruslog").option("path", root).load()
      .agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
    agg.collect()
    val listings = graft.sources.WalrusLogSource.commitListCount.get() - before
    assert(listings == 1L,
      s"expected 1 commit listing for a ts-aggregate scan, saw $listings")
  }

  test("topicPattern prunes topic dirs at plan time and flows into metadata aggregates") {
    val root = TestDirs.create("plan-pattern-").toString
    val log = new graft.log.WalrusLog(spark, root)
    Seq("orders", "orders_eu", "audit").foreach(t =>
      log.batchAppend(t, (0 until 3).map(j => s"$t$j".getBytes("UTF-8"))))
    val df = spark.read.format("walruslog").option("path", root)
      .option("topicPattern", "orders.*").load()
    // rows: only the two matching topics
    val q = df.select("topic", "offset")
    assert(q.collect().map(_.getString(0)).toSet == Set("orders", "orders_eu"))
    // plan: the non-matching topic's file is never planned (the matching
    // topics' files may share a partition)
    assert(scannedFiles(q).map(_.topic).sorted == Seq("orders", "orders_eu"),
      "pattern must prune the audit topic's directory from the plan")
    // the metadata-aggregate path honors the pattern (zero data IO count)
    val agg = df.groupBy("topic").agg(count(lit(1)).as("n")).collect()
    assert(agg.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("orders", 3L), ("orders_eu", 3L)))
    // a topic registered AFTER the first read is picked up on the next
    // plan (per-commit resolution — Kafka's pattern re-subscription)
    log.batchAppend("orders_us", (0 until 2).map(j => s"u$j".getBytes("UTF-8")))
    val again = spark.read.format("walruslog").option("path", root)
      .option("topicPattern", "orders.*").load()
      .groupBy("topic").agg(count(lit(1)).as("n")).collect()
    assert(again.map(_.getString(0)).toSet ==
      Set("orders", "orders_eu", "orders_us"))
    // topic and topicPattern are mutually exclusive (Kafka's rule)
    val err = intercept[Exception] {
      spark.read.format("walruslog").option("path", root)
        .option("topic", "orders").option("topicPattern", "orders.*")
        .load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("mutually exclusive")),
      msgs(err).mkString(" | "))
  }

  test("batch publish-time window: starting/endingTimestampMs select whole commits from metadata") {
    val root = TestDirs.create("plan-window-").toString
    val log = new graft.log.WalrusLog(spark, root)
    val t0 = 1704067200000L
    (0 until 4).foreach { i =>
      log.appendDF(
        spark.createDataFrame((0 until 5).map(j => ("t", s"v$i$j".getBytes("UTF-8"))))
          .toDF("topic", "value"),
        ingestTs = new java.sql.Timestamp(t0 + i * 60000L))
    }
    def windowed(s: Option[Long], e: Option[Long]) = {
      var r = spark.read.format("walruslog").option("path", root)
      s.foreach(v => r = r.option("startingTimestampMs", v.toString))
      e.foreach(v => r = r.option("endingTimestampMs", v.toString))
      r.load()
    }
    // [t0+1m, t0+3m) = commits 1 and 2 → offsets 5-14, and only their
    // files plan (the window is a metadata filter, not a row filter)
    val q = windowed(Some(t0 + 60000L), Some(t0 + 180000L))
      .select("offset")
    val offs = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(offs == (5L until 15L), offs.toString)
    assert(scannedParts(q) == 2,
      "window must plan only the two covered commits")
    // half-open: ending alone excludes the boundary commit
    assert(windowed(None, Some(t0 + 60000L)).count() == 5L)
    // starting alone = everything from that publish instant on
    assert(windowed(Some(t0 + 180000L), None).count() == 5L)
    // the metadata-aggregate path honors the window too
    val a = windowed(Some(t0 + 60000L), Some(t0 + 180000L))
      .groupBy("topic").agg(count(lit(1)).as("n"),
        min("offset").as("lo"), max("offset").as("hi")).collect()
    assert(a.length == 1 && a(0).getAs[Long]("n") == 10L &&
      a(0).getAs[Long]("lo") == 5L && a(0).getAs[Long]("hi") == 14L)
    // a stream must reject the batch-only ending option (the failure may
    // surface from start() or from the stream thread — await to be sure)
    val err = intercept[Exception] {
      val q = spark.readStream.format("walruslog").option("path", root)
        .option("endingTimestampMs", (t0 + 60000L).toString).load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          TestDirs.create("plan-window-ck-").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("endingTimestampMs")),
      messages(err).mkString(" | "))
  }

  test("walk skip-gram pairs: array-local generation, never a corpus self-join") {
    val plan = planOf("graph_walk_cooc")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // pairs explode from the per-walk array after ONE walk-keyed
    // aggregate — never a corpus self-join; the single nested-loop join
    // is the 1-row n_tot broadcast (Cross BuildRight), by design
    assert(plan.contains("Generate"), s"array-local pair explode missing:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2, // tree + detail section
      s"only the 1-row total may nested-loop:\n$plan")
  }

  test("harmonic + node2vec walks: level/step joins are equi-joins, never all-pairs") {
    Seq("graph_harmonic", "graph_node2vec_walks", "graph_random_walks").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q BNL join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
    }
  }

  test("perceptron eval: margins from the literal weight array, join-free") {
    // the scoring pass must never join a weight table — weights ride as
    // an array literal so the plan is explode -> count -> one aggregate
    val plan = planOf("text_perceptron_eval")
    assert(!plan.contains("Join"), s"scoring must be join-free:\n$plan")
    assert(plan.contains("Generate"), s"token explode missing:\n$plan")
  }

  test("filter ablation: one cube Expand, equi-join gates, no all-pairs") {
    val plan = planOf("pipeline_filter_ablation")
    assert(plan.contains("Expand"), s"cube must plan as Expand:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNL join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("mm resize: batched partition-local kernel, no pre-shuffle") {
    val plan = planOf("mm_resize")
    assert(plan.contains("MapPartitions"),
      s"batched partition-local kernel missing:\n$plan")
    assert(!plan.contains("Join"), s"resize must not join:\n$plan")
  }

  test("chunk spans: range-partitioned prefix window + broadcast bases, never global") {
    val plan = planOf("shard_chunk_spans")
    assert(plan.contains("hashpartitioning(rng"),
      s"prefix-sum window must partition by the coarse range:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-range bases must broadcast:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"a global single-partition stage crept in:\n$plan")
  }

  test("forward as-of: one union + keyed window, no range-join explosion") {
    val plan = planOf("asof_next_click")
    assert(plan.contains("Union"), s"tagged-union shape lost:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"window must partition by the join keys:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"range-join explosion:\n$plan")
  }

  test("code detect: join-free narrow projection, no explode-driven shuffle") {
    val plan = planOf("text_code_detect")
    assert(!plan.contains("Join"), s"code signals must not join:\n$plan")
    // only the output sort may exchange; no aggregation shuffle
    assert(!plan.contains("HashAggregate"),
      s"per-row signals must not aggregate:\n$plan")
  }

  test("k-truss: 2-path equi-joins + support aggregation, never all-pairs") {
    val plan = planOf("graph_ktruss")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("lsh curve: fused per-pair overlap, broadcast pair list, no corpus join") {
    val plan = planOf("dedup_lsh_curve")
    assert(plan.contains("shingle_overlap"),
      s"fused overlap expression dropped out:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("decon sweep: eval grams broadcast into every leg's semi-join") {
    val plan = planOf("shard_decon_sweep")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval gram set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a corpus-scale merge join crept into the sweep:\n$plan")
  }

  test("fertility: two aggregates + id join, no cartesian") {
    val plan = planOf("text_fertility")
    assert(plan.contains("HashAggregate"), s"missing aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
  }

  test("assortativity: equi-joins onto the degree table, one aggregate row") {
    val plan = planOf("graph_assortativity")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("bloom fpr: filter state collapses in aggregation, no corpus-scale join") {
    val plan = planOf("sketch_bloom_fpr")
    // the only join is the two 1-row aggregates meeting (the accepted
    // 1-row crossJoin pattern); a merge join would mean a corpus-sized
    // side slipped in
    assert(plan.contains("HashAggregate"), s"missing aggregation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-scale join in a 1-row report:\n$plan")
  }

  test("vocab coverage: join-free — one vocab window + one conditional agg") {
    val plan = planOf("text_vocab_coverage")
    assert(plan.contains("Window"), s"rank window dropped out:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("k-anonymity: join-free — group agg then 4 conditional sums") {
    val plan = planOf("pipeline_k_anonymity")
    assert(plan.contains("HashAggregate"), s"missing aggregation:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("lsh tune: one pair pipeline computes all five configs, fused overlap") {
    val plan = planOf("dedup_lsh_tune")
    assert(plan.contains("shingle_overlap"),
      s"fused overlap expression dropped out:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    // all five configs' sums live in ONE aggregate over jac — the pair
    // pipeline must appear once, not per config
    assert("shingle_overlap".r.findAllIn(plan).size <= 2,
      s"pair pipeline duplicated across configs:\n$plan")
  }

  test("reach curve: per-level frontier equi-joins, never all-pairs") {
    val plan = planOf("graph_reach_curve")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("bloom setops: position/hash aggregations, no corpus-scale merge join") {
    val plan = planOf("sketch_bloom_setops")
    assert(plan.contains("HashAggregate"), s"missing aggregation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-scale join in a 1-row report:\n$plan")
  }

  test("conditional entropy: vocab-sized equi-joins, never all-pairs") {
    val plan = planOf("text_bigram_condent")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("effective diameter: frontier equi-joins + per-root aggregates only") {
    val plan = planOf("graph_eff_diameter")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("four cycles: middle-node equi-join, 1-row total broadcast only") {
    val plan = planOf("graph_four_cycles")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the only nested-loop is the 1-row c4_total broadcast (each node
    // appears twice in FormattedMode: tree line + detail header)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      s"unexpected all-pairs join beyond the 1-row total:\n$plan")
  }

  test("mix audit: keyed equi-joins + prefix-sum sampler, never all-pairs") {
    // the sampled-docs ⋈ weights join is doc-keyed and corpus-
    // proportional — a shuffle join IS the correct scale shape there,
    // so only all-pairs shapes are banned (the 1-row total broadcast is
    // the accepted BNLJ, ×2 in FormattedMode)
    val plan = planOf("pipeline_mix_audit")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // two accepted 1-row crossJoins: temperatureMix's s_total normalizer
    // and the audit's sample-token total (each ×2 in FormattedMode)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 4,
      s"unexpected all-pairs join:\n$plan")
  }

  test("burstiness: one explode + one vocab aggregate, join-free TopN") {
    val plan = planOf("text_burstiness")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-25 should be TakeOrdered, not sort+limit:\n$plan")
  }

  test("leakage audit: cluster-keyed aggregates over the LSH graph") {
    val plan = planOf("shard_leakage_audit")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
  }

  test("incremental dedup: banded prior-new equi-join, fused verify") {
    val plan = planOf("dedup_incremental")
    assert(plan.contains("shingle_overlap"),
      s"fused overlap expression dropped out:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("pit count: one keyed window over the union, no range join") {
    val plan = planOf("asof_pit_count")
    assert(plan.contains("Window"), s"expanding window dropped out:\n$plan")
    assert(!plan.contains("Join"), s"a join crept into the union+window:\n$plan")
  }

  test("semantic sweep: one cell-bucketed pair pass feeds all tau gates") {
    val plan = planOf("dedup_semantic_sweep")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // cell-bucketed pair join only; the 1-row n_vecs crossJoin is the
    // accepted BNLJ (x2 in FormattedMode)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      s"unexpected all-pairs join:\n$plan")
  }

  test("ivf drift: one assignment pass + cell aggregate, 1-row totals only") {
    val plan = planOf("sim_ivf_drift")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      s"unexpected all-pairs join beyond the 1-row totals:\n$plan")
  }

  test("benford: narrow scan + 9-row digit aggregate, broadcast constants") {
    val plan = planOf("rel_benford")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), s"heavy join in a 9-row report:\n$plan")
    assert(plan.contains("HashAggregate"), s"missing aggregation:\n$plan")
  }

  test("conductance: label-attach equi-joins + per-label aggregates only") {
    val plan = planOf("graph_conductance")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // only nested-loop: the 1-row volume-total broadcast (×2 in
    // FormattedMode: tree + detail)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      s"unexpected all-pairs join:\n$plan")
  }

  test("kmv windows: day-keyed sketch aggregation, merge from sketches only") {
    val plan = planOf("sketch_kmv_windows")
    assert(plan.contains("bottom_k") || plan.contains("BottomK"),
      s"sketch aggregate dropped out:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), s"corpus-scale join:\n$plan")
  }

  test("bitext mine: query side broadcast, id-keyed rank-pivot equi-joins") {
    val plan = planOf("sim_bitext_mine")
    // bruteForceTopK's non-equi (id <> id) join must broadcast the
    // bounded QUERY sample, never shuffle the corpus against itself
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast scored join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("dedup savings: banded discovery + source aggregates, never all-pairs") {
    val plan = planOf("dedup_savings")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("knn degree: degree-table equi-joins only, two combined aggregations") {
    val plan = planOf("graph_knn_degree")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("gini vocab: lang-partitioned vocab window, join-free") {
    val plan = planOf("text_gini_vocab")
    assert(plan.contains("Window"), s"rank window dropped out:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }
}
