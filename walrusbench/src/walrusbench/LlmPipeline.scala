package walrusbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.log.WalrusLog
import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.WalrusStreams

/** A generated corpus with its planted structure. */
final case class Corpus(docs: Seq[(Long, String, String, String)], // id, lang, source, text
    exactGroups: Map[Long, Seq[Long]], // source id -> exact copies
    nearPairs: Seq[(Long, Long)]) // (source id, edited copy id)

/** `llm_pipeline`: a seeded corpus committed to a topic during set-up is
  * read back through the DSv2 source and deduplicated — quality gate,
  * exact dedup, MinHash-LSH candidates, Jaccard verification, connected
  * components (min id per cluster survives) — then lexical KNN runs over
  * the survivors and they are appended to an output topic. Passes repeat
  * until the time is up; each stage counts with its best pass. */
final class LlmPipeline(seed: Long) extends Workload {
  private val nDocs = 1000
  private val shingleK = 9
  private val bands = 10
  private val rowsPerBand = 4
  private val minJaccard = 0.5
  private val minQuality = 0.5
  /** Lowest recall of planted near-duplicate pairs the pipeline must reach.
    * The unmodified library finds 0.88-0.99 of them on seeds tried; a
    * corpus plants 80 pairs, so one seed's recall varies by ~0.03 and the
    * floor sits well below the measured range. */
  private val recallFloor = 0.75
  private val langs = Array("en", "en", "en", "de", "fr", "es")
  private val sources = Array("web", "web", "books", "forum", "news")
  private val editRates = Array(0.02, 0.05, 0.10)
  private val text = new ZipfText(4000, 1.0)

  private var spark: SparkSession = _
  private var log: WalrusLog = _
  private var logRoot: String = _
  private var corpus: Corpus = _

  /** A seeded corpus. Role counts are exact and document lengths are a
    * fixed lognormal sample, both shuffled by the seed, so the amount of
    * work varies little between seeds while the text itself does. */
  def generate(n: Int, salt: Long): Corpus = {
    val r = new java.util.SplittableRandom(seed * 7919L + salt)
    def shuffled[T](xs: Seq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq.map(_.asInstanceOf[T])
    }
    val head = 20 // leading originals, so every copy has a source
    val (nExact, nNear, nSoup) = (n * 5 / 100, n * 8 / 100, n * 5 / 100)
    val roles = Seq.fill(head)(3) ++ shuffled(Seq.fill(nExact)(0) ++ Seq.fill(nNear)(1) ++
      Seq.fill(nSoup)(2) ++ Seq.fill(n - head - nExact - nNear - nSoup)(3))
    val fixed = new java.util.SplittableRandom(n.toLong)
    val lengths = shuffled(Seq.fill(roles.count(_ == 3))(
      math.min(600, 20 + math.exp(fixed.nextGaussian() * 0.7 + 4.0).toInt))).iterator
    val docs = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val originals = mutable.ArrayBuffer.empty[Long]
    val exact = mutable.Map.empty[Long, Seq[Long]]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val soup = Array("#@!", "%%$", "&*(", "--]]", "~~^", "|<>|")
    for ((role, i) <- roles.zipWithIndex) {
      val id = i.toLong
      val lang = langs(r.nextInt(langs.length))
      val src = sources(r.nextInt(sources.length))
      role match {
        case 0 =>
          val of = originals(r.nextInt(originals.size))
          docs += ((id, lang, src, docs(of.toInt)._4))
          exact(of) = exact.getOrElse(of, Nil) :+ id
        case 1 =>
          val of = originals(r.nextInt(originals.size))
          val rate = editRates(near.size % editRates.length)
          val edited = docs(of.toInt)._4.split(" ").map(w =>
            if (r.nextDouble() < rate) text.draw(r) else w).mkString(" ")
          docs += ((id, lang, src, edited))
          near += ((of, id))
        case 2 =>
          val len = 20 + r.nextInt(200)
          docs += ((id, lang, src, Seq.fill(len)(soup(r.nextInt(soup.length))).mkString(" ")))
        case _ =>
          docs += ((id, lang, src, Seq.fill(lengths.next())(text.draw(r)).mkString(" ")))
          originals += id
      }
    }
    Corpus(docs.toSeq, exact.toMap, near.toSeq)
  }

  private def commitCorpus(topic: String, c: Corpus): Unit = {
    val rows = c.docs.map { case (id, lang, src, t) =>
      Row(topic, s"$id\t$lang\t$src\t$t".getBytes(UTF_8))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, Env.cores),
      StructType(Seq(StructField("topic", StringType), StructField("value", BinaryType))))
    log.appendDF(df, arrivalOrder = true)
  }

  private final case class Pass(wallS: Double, stageS: Map[String, Double],
      candidates: Long, verified: Long, survivors: Long, recall: Double)
  private val passes = mutable.ArrayBuffer.empty[Pass]

  /** One pipeline pass over `topic`; checks outputs into `ledger`. */
  private def pass(topic: String, c: Corpus, outTopic: String, tr: Tracer,
      ledger: Ledger): Pass = {
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(s"operators.$name", "operators")(f)
      finally stageS(name) = (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val gated = stage("quality") {
      val docs = tr.span("sources.read", "sources")(
        WalrusStreams.read(spark, logRoot, topic = Some(topic)))
        .select(split(col("value").cast("string"), "\t", 4).as("f"))
        .select(col("f")(0).cast("long").as("id"), col("f")(3).as("text"))
      TextAnalysis.qualityScore(docs, "id", "text", passthrough = Seq("text"))
        .where(col("quality_score") >= minQuality)
        .select("id", "text").localCheckpoint(true)
    }
    val uniq = stage("exact") {
      gated.join(Dedup.exact(gated, "id", "text").select(col("keep_id").as("id")), "id")
        .localCheckpoint(true)
    }
    val cands = stage("minhash") {
      Dedup.minHashLshPairs(uniq, "id", "text", shingleK, bands, rowsPerBand)
        .localCheckpoint(true)
    }
    val verified = stage("verify") {
      Dedup.jaccardForPairs(uniq, cands, "id", "text", shingleK)
        .where(col("jaccard") >= minJaccard).localCheckpoint(true)
    }
    val (survivors, labels) = stage("components") {
      val cc = Dedup.connectedComponents(verified).localCheckpoint(true)
      (uniq.join(cc.where(col("node") =!= col("lbl")).select(col("node").as("id")),
        Seq("id"), "left_anti").localCheckpoint(true), cc)
    }
    val knn = stage("knn")(Dedup.lexicalKnn(survivors, "id", "text").localCheckpoint(true))
    stage("output") {
      tr.span("log.append_df", "log")(log.appendDF(survivors.select(lit(outTopic).as("topic"),
        concat_ws("\t", col("id").cast("string"), col("text")).cast("binary").as("value"))))
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    // output checks (untimed)
    val gatedIds = gated.select("id").collect().map(_.getLong(0)).toSet
    val uniqIds = uniq.select("id").collect().map(_.getLong(0)).toSet
    val survivorIds = survivors.select("id").collect().map(_.getLong(0)).toSet
    c.exactGroups.foreach { case (src, copies) =>
      if (gatedIds(src)) ledger.check(uniqIds(src) && copies.forall(x => !uniqIds(x)),
        s"exact group of $src did not collapse to its min id")
    }
    val lbl = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = c.nearPairs.filter { case (a, b) => uniqIds(a) && uniqIds(b) }
    val found = planted.count { case (a, b) => lbl.get(a).exists(x => lbl.get(b).contains(x)) }
    val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.size
    ledger.check(recall >= recallFloor, f"near-dup recall $recall%.3f below floor $recallFloor")
    ledger.check(survivorIds.forall(id => lbl.get(id).forall(_ == id)),
      "a survivor is not its cluster's min id")
    ledger.check(log.entryCount(outTopic) == survivorIds.size,
      s"output topic holds ${log.entryCount(outTopic)} entries, survivors ${survivorIds.size}")
    ledger.check(knn.where(col("neighbor_id") === col("id") || col("rnk") > 3).isEmpty,
      "lexical KNN returned self or out-of-range neighbours")
    Pass(wallS, stageS.toMap, cands.count(), verified.count(), survivorIds.size, recall)
  }

  def setup(s: SparkSession, root: Path): Unit = {
    spark = s
    logRoot = root.resolve("log").toString
    log = new WalrusLog(spark, logRoot)
    corpus = generate(nDocs, 1)
    commitCorpus("corpus", corpus)
  }

  /** Two or three passes: the first passes of a JVM run slower while
    * classes load and generated and JIT code compiles, the first one by
    * far the most. */
  val warmSeconds = 12.0

  def measure(seconds: Double, tr: Tracer, root: Path): Outcome = {
    val ledger = new Ledger
    passes.clear()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline) {
      Env.fence()
      ledger.attempt()
      passes += pass("corpus", corpus, s"out-${root.getFileName}-${passes.size}", tr, ledger)
    }
    val p = passes.last
    // each stage's best pass, summed: later passes run on a warmer JIT, and
    // interference from the rest of the machine only ever slows a stage
    val bestS = p.stageS.keys.toSeq.map(st => passes.map(_.stageS(st)).min).sum
    Outcome(
      Seq(Metric("latency_p50_ms", Stats.median(passes.map(_.wallS * 1e3)), "ms", passes.size),
        Metric("throughput", nDocs / bestS, "1/s", passes.size)),
      ledger.attempted, ledger.failed,
      Seq(s"passes: ${passes.size} over $nDocs docs; wall s: " +
        passes.map(x => f"${x.wallS}%.2f").mkString(" ") + f"; best stages sum $bestS%.2f s",
        s"last pass: candidates=${p.candidates} verified=${p.verified} " +
          f"survivors=${p.survivors} recall=${p.recall}%.3f stages: " +
          p.stageS.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")) ++
        ledger.firstFailures.map("failure: " + _))
  }

  def layerMetrics(td: TraceData): Seq[Metric] = {
    val n = passes.size.toDouble
    val stages = Seq("quality", "exact", "minhash", "verify", "components", "knn", "output")
    val perStage = stages.flatMap { st =>
      val ss = td.spans.filter(_.name == s"operators.$st")
      val jobs = ss.flatMap(s => td.jobsOf(s) ++
        td.spans.filter(_.parent == s.id).flatMap(td.jobsOf))
      val t = td.totalsOf(jobs)
      val joinRows = td.execsOf(jobs).map(_.metrics.getOrElse("join.numOutputRows", 0L)).sum
      Seq(
        Metric(s"operators.$st.wall_s", ss.map(_.durNs).sum / 1e9 / n, "s"),
        Metric(s"operators.$st.task_cpu_s", t.cpuNs / 1e9 / n, "s"),
        Metric(s"operators.$st.shuffle_mb", (t.shuffleWrite + t.shuffleRead) / 1e6 / n, "MB"),
        Metric(s"operators.$st.spill_mb", t.spill / 1e6 / n, "MB"),
        Metric(s"operators.$st.join_rows", joinRows / n, "rows"))
    }
    // the DSv2 scan runs inside the quality stage's job
    val quality = td.spans.filter(_.name == "operators.quality")
    val scanExecs = quality.flatMap(s => td.execsOf(td.jobsOf(s)))
    val reads = td.spans.filter(_.name == "sources.read")
    val sourceMetrics = Seq(
      Metric("sources.read.wall_s", reads.map(_.durNs).sum / 1e9 / n, "s"),
      Metric("sources.read.rows_read",
        scanExecs.map(_.metrics.getOrElse("scan.numOutputRows", 0L)).sum / n, "rows"),
      Metric("sources.read.plan_ms", scanExecs.map(_.planMs).sum / n, "ms"))
    val c = passes.map(_.candidates).sum.toDouble
    val v = passes.map(_.verified).sum.toDouble
    sourceMetrics ++ perStage ++ Seq(
      Metric("operators.lsh.candidate_pairs", c / n, "pairs"),
      Metric("operators.lsh.verified_pairs", v / n, "pairs"),
      Metric("operators.lsh.precision", if (c == 0) 0.0 else v / c, "ratio"),
      Metric("operators.near_dup_recall", Stats.median(passes.map(_.recall)), "ratio"))
  }
}
