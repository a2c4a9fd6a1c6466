package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name subset (local iteration)]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Crash-durable gate: write oracle_sql.json FIRST, so a budget-expired
    // or killed run still leaves the driver every completed query's parquet
    // plus the oracle map (instead of zeroing the whole round). Reference
    // analogue: publish the index incrementally so a crash loses one entry,
    // not the log (reference src/wal/runtime/index.rs:70-83).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query status journal, appended (and fsynced via CREATE/APPEND
    // open) after each query — a post-mortem shows exactly which query a
    // crashed run died in and the per-query wall time.
    val statusPath = Paths.get(s"$outDir/_status.jsonl")
    Files.deleteIfExists(statusPath)
    val t0 = System.nanoTime()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val tq = System.nanoTime()
      val err =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          // Option(...): a null-message Throwable (plain NPE, some Spark
          // internals) must not NPE the journal line below and abort the
          // remaining queries — that would defeat the crash-durable gate
          // this journal exists for (ADVICE r12).
          val msg = Option(e.getMessage).getOrElse(e.toString)
          System.err.println(s"[verify] $name failed: $msg")
          Some(msg)
        }
      val line = s"""{"q": ${q(name)}, "ok": ${err.isEmpty}, "sec": ${
        (System.nanoTime() - tq) / 1e9}${
        err.map(m => s""", "err": ${q(m.take(300))}""").getOrElse("")}}\n"""
      Files.writeString(statusPath, line,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    System.err.println(f"[verify] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
