package graft.server

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import graft.log.WalrusLog

/** Thin TCP control shim with the reference's 5-command wire protocol
  * (reference: distributed-walrus/src/client.rs:8-117, README.md:95-114):
  *
  *   frame  = 4-byte little-endian length + UTF-8 command (max 64 KiB)
  *   PUT <topic> <payload>   → OK
  *   GET <topic>             → OK <payload> | EMPTY
  *   REGISTER <topic>        → OK
  *   STATE <topic>           → OK <json>
  *   METRICS                 → OK <json>
  *
  * The reference routes PUT/GET through segment leaders with Raft-backed
  * leases; here the single engine (driver) is the sequencing point, so
  * commands map directly onto [[WalrusLog]] calls. GET consumes from the
  * shared server-side cursor exactly like the reference's
  * `read_one_for_topic_shared` (controller/mod.rs:199-276).
  */
class WalrusServer(log: WalrusLog, port: Int = 0) {
  private val MaxFrame = 64 * 1024 // client.rs:8 parity
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", port))
  private val running = new AtomicBoolean(true)

  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        // replies are one small write each: without TCP_NODELAY, Nagle
        // holds a reply behind the peer's delayed ACK (~40 ms per round trip)
        sock.setTcpNoDelay(true)
        val t = new Thread(() => handleConn(sock))
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable if !running.get() => /* shutting down */ }
    }
  }, "walrus-server-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handleConn(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (running.get()) {
        val lenBytes = new Array[Byte](4)
        in.readFully(lenBytes)
        val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getInt
        if (len < 0 || len > MaxFrame) {
          writeFrame(out, "ERR frame too large")
        } else {
          val body = new Array[Byte](len)
          in.readFully(body)
          val resp = handleCommand(new String(body, StandardCharsets.UTF_8))
          writeFrame(out, resp)
        }
      }
    } catch {
      case _: java.io.EOFException => // client closed
      case _: java.net.SocketException => // client closed
    } finally sock.close()
  }

  private[server] def handleCommand(cmd: String): String = try {
    val (verb, rest) = cmd.indexOf(' ') match {
      case -1 => (cmd, "")
      case i => (cmd.substring(0, i), cmd.substring(i + 1))
    }
    verb match {
      case "REGISTER" if rest.nonEmpty =>
        log.ensureTopic(rest.trim); "OK"
      case "PUT" =>
        rest.indexOf(' ') match {
          case -1 => "ERR PUT requires topic and payload"
          case i =>
            val topic = rest.substring(0, i)
            val payload = rest.substring(i + 1)
            log.append(topic, payload.getBytes(StandardCharsets.UTF_8))
            "OK"
        }
      case "GET" if rest.nonEmpty =>
        log.readNext(rest.trim, checkpoint = true) match {
          case Some(e) => "OK " + new String(e.value, StandardCharsets.UTF_8)
          case None => "EMPTY"
        }
      case "STATE" if rest.nonEmpty => "OK " + log.stateJson(rest.trim)
      case "METRICS" => "OK " + log.metricsJson()
      case other => s"ERR unknown command: $other"
    }
  } catch { case e: Throwable => s"ERR ${e.getMessage}" }

  private def writeFrame(out: DataOutputStream, s: String): Unit = {
    out.write(WalrusServer.frame(s)); out.flush()
  }

  def close(): Unit = {
    running.set(false)
    server.close()
  }
}

object WalrusServer {
  /** One wire frame (4-byte little-endian length + UTF-8 body) as a single
    * buffer, so it leaves in one write. */
  private[server] def frame(s: String): Array[Byte] = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    ByteBuffer.allocate(4 + bytes.length).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(bytes.length).put(bytes).array()
  }
}

/** Minimal client for tests/tools — same framing as the reference client. */
object WalrusClient {
  def call(port: Int, cmd: String): String = {
    val sock = new Socket("127.0.0.1", port)
    try call(sock, cmd)
    finally sock.close()
  }

  /** One round trip on an open connection (the server keeps serving a
    * connection until the client closes it). */
  def call(sock: Socket, cmd: String): String = {
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    out.write(WalrusServer.frame(cmd)); out.flush()
    val lenBytes = new Array[Byte](4)
    in.readFully(lenBytes)
    val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getInt
    val body = new Array[Byte](len)
    in.readFully(body)
    new String(body, StandardCharsets.UTF_8)
  }
}
