package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is validated when it is read, before any session
  * exists: a bad value fails with a message naming the variable instead
  * of surfacing as Spark's "Could not parse Master URL" after the JVM has
  * already started Spark. Pure parsing — no SparkSession is built here. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS accepts a positive integer or *, and defaults to 32") {
    assert(GraftSession.parseCpus(None) == "32")
    assert(GraftSession.parseCpus(Some("4")) == "4")
    assert(GraftSession.parseCpus(Some("32")) == "32")
    assert(GraftSession.parseCpus(Some("*")) == "*")
  }

  test("SPARK_GRAFT_CPUS rejects 0, -1, x and the empty string, naming the variable") {
    for (bad <- Seq("0", "-1", "x", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$bad': ${e.getMessage}")
    }
  }
}
