package graft.server

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.log.WalrusLog

/** Wire-protocol roundtrip, mirroring the reference's CLI e2e
  * (reference: distributed-walrus/tests/cli_e2e.rs:24-123). */
class WalrusServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("WalrusServerSpec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("REGISTER / PUT / GET / STATE / METRICS roundtrip + error paths") {
    val root = graft.TestDirs.create("wserver-").toString
    val log = new WalrusLog(spark, root)
    val server = new WalrusServer(log)
    try {
      val p = server.boundPort
      assert(WalrusClient.call(p, "REGISTER orders") == "OK")
      assert(WalrusClient.call(p, "PUT orders hello-1") == "OK")
      assert(WalrusClient.call(p, "PUT orders hello-2") == "OK")
      assert(WalrusClient.call(p, "GET orders") == "OK hello-1")
      assert(WalrusClient.call(p, "GET orders") == "OK hello-2")
      assert(WalrusClient.call(p, "GET orders") == "EMPTY")
      val state = WalrusClient.call(p, "STATE orders")
      assert(state.startsWith("OK {") && state.contains("\"next_offset\":2"))
      val metrics = WalrusClient.call(p, "METRICS")
      assert(metrics.startsWith("OK {") && metrics.contains("\"topics\":1"))
      // error paths (cli_e2e.rs error cases)
      assert(WalrusClient.call(p, "PUT orders").startsWith("ERR"))
      assert(WalrusClient.call(p, "BOGUS x").startsWith("ERR unknown command"))
      assert(WalrusClient.call(p, "GET never-registered") == "EMPTY")
    } finally server.close()
  }

  test("STATE and METRICS replies are valid JSON for names holding quotes and backslashes") {
    import org.json4s.{JInt, JString}
    import org.json4s.jackson.JsonMethods.parse
    val root = graft.TestDirs.create("wserver-").toString
    val log = new WalrusLog(spark, root, namespace = "n\"s\\")
    val server = new WalrusServer(log)
    try {
      val p = server.boundPort
      val topic = "a\"b\\c"
      assert(WalrusClient.call(p, s"PUT $topic x") == "OK")
      val state = parse(WalrusClient.call(p, s"STATE $topic").stripPrefix("OK "))
      assert((state \ "topic") == JString(topic))
      assert((state \ "next_offset") == JInt(1))
      val metrics = parse(WalrusClient.call(p, "METRICS").stripPrefix("OK "))
      assert((metrics \ "namespace") == JString("n\"s\\"))
      assert((metrics \ "total_entries") == JInt(1))
    } finally server.close()
  }

  test("replies leave without a Nagle/delayed-ACK stall: 20 STATE round trips on one connection") {
    val root = graft.TestDirs.create("wserver-").toString
    val log = new WalrusLog(spark, root)
    log.append("orders", "x".getBytes("UTF-8"))
    val server = new WalrusServer(log)
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      assert(WalrusClient.call(sock, "STATE orders").startsWith("OK {")) // warm-up
      val t0 = System.nanoTime()
      (0 until 20).foreach { _ =>
        assert(WalrusClient.call(sock, "STATE orders").startsWith("OK {"))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      // a reply stalled behind a delayed ACK costs ~40 ms: 20 of them ≥ 800 ms
      assert(ms < 20 * 40 / 2, f"20 STATE round trips took $ms%.1f ms")
    } finally { sock.close(); server.close() }
  }
}
