package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Print `explain("formatted")` for the named queries — scratch plan
  * inspection without regenerating the full PLANS_DUMP.md sweep.
  * Usage: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.ExplainOne <name>..."`
  * — 8 cores reproduces the plans in PLANS_DUMP.md. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"== $name ==")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
