package graftbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.locks.LockSupport

/** One persistent HTTP/1.1 connection. Each request goes out in a single
  * write; the connection is kept alive between requests (no
  * `Connection: close`), as a webhook sender holding a pool would.
  */
final class Conn(port: Int, path: String) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress(InetAddress.getLoopbackAddress, port), 5000)
  sock.setSoTimeout(30000)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = sock.getOutputStream

  /** POST `body`; returns the status code. */
  def post(body: Array[Byte]): Int = {
    val head = (s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(US_ASCII)
    val req = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, req, 0, head.length)
    System.arraycopy(body, 0, req, head.length, body.length)
    out.write(req)
    out.flush()
    val status = Conn.line(in).split(' ')(1).toInt
    var len = 0L
    var chunked = false
    var h = Conn.line(in)
    while (h.nonEmpty) {
      val l = h.toLowerCase
      if (l.startsWith("content-length:")) len = l.substring(15).trim.toLong
      if (l.startsWith("transfer-encoding:") && l.contains("chunked")) chunked = true
      h = Conn.line(in)
    }
    if (chunked) {
      var n = Integer.parseInt(Conn.line(in).trim, 16)
      while (n > 0) { in.skipNBytes(n); Conn.line(in); n = Integer.parseInt(Conn.line(in).trim, 16) }
      Conn.line(in)
    } else in.skipNBytes(len)
    status
  }

  def close(): Unit = sock.close()
}

object Conn {
  def line(in: InputStream): String = {
    val b = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') b.append(c.toChar)
      c = in.read()
    }
    b.toString
  }
}

/** A responder that answers every request with a fixed 200 in one write:
  * the yardstick that shows the generator keeps its schedule.
  */
final class TrivialResponder extends AutoCloseable {
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  private val ok = "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok".getBytes(US_ASCII)
  private val acceptor = new Thread(() => {
    try while (true) {
      val s = server.accept()
      s.setTcpNoDelay(true)
      val t = new Thread(() => serve(s), "perfbench-trivial")
      t.setDaemon(true)
      t.start()
    } catch { case _: java.io.IOException => () }
  }, "perfbench-trivial-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      while (true) {
        var len = 0L
        var h = Conn.line(in)
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) len = h.substring(15).trim.toLong
          h = Conn.line(in)
        }
        in.skipNBytes(len)
        out.write(ok)
        out.flush()
      }
    } catch { case _: java.io.IOException => () } finally s.close()

  def close(): Unit = { server.close(); acceptor.join(5000) }
}

/** One request's timeline, in ns: when it was due, sent and answered. */
final case class Sample(due: Long, sent: Long, done: Long, status: Int) {
  def latencyMs: Double = (done - due) / 1e6
  def serviceMs: Double = (done - sent) / 1e6
  def lagMs: Double = (sent - due) / 1e6
  def ok: Boolean = status == 200
}

/** Open-loop load: request i of a rung is due at start + i / rate,
  * whatever the endpoint's speed, and is sent on connection i mod n as
  * soon as it is due and that connection is free. Latency is timed from
  * the due time, so a stall also charges the requests queued behind it.
  */
object OpenLoop {
  /** Status -1 marks a connection error. */
  def rung(conns: Seq[Conn], bodies: IndexedSeq[Array[Byte]], rate: Double): Vector[Sample] = {
    val n = conns.size
    val out = new Array[Sample](bodies.size)
    val start = System.nanoTime() + 2000000L
    val gapNs = 1e9 / rate
    val threads = conns.indices.map { c =>
      val t = new Thread(() => {
        var i = c
        var broken = false
        while (i < bodies.size) {
          val due = start + (i * gapNs).toLong
          var now = System.nanoTime()
          while (now < due) {
            if (due - now > 200000L) LockSupport.parkNanos(due - now - 100000L)
            now = System.nanoTime()
          }
          val status =
            if (broken) -1
            else try conns(c).post(bodies(i))
            catch { case _: java.io.IOException => broken = true; -1 }
          out(i) = Sample(due, now, System.nanoTime(), status)
          i += n
        }
      }, s"perfbench-sender-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toVector
  }

  /** A rung is sustained when its p95 latency stays under the limit and
    * the backlog does not grow: the last quarter's worst send lag is
    * also under the limit.
    */
  def sustained(s: Seq[Sample], limitMs: Double): Boolean =
    s.forall(_.ok) && Stats.q(s.map(_.latencyMs), 0.95) < limitMs &&
      s.drop(s.size * 3 / 4).map(_.lagMs).max < limitMs
}
