package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Minimal RFC 6455 loopback server shared by the WebSocket specs (the
  * protocol is public and a minimal server is ~100 lines: HTTP Upgrade
  * handshake with the SHA-1/base64 accept key, masked client→server
  * frames, unmasked server→client text frames; text frames only).
  *
  * Every client text frame is handed to `handler(connIdx, text, send)`
  * where `send` pushes an unmasked text frame back on that connection;
  * returning false drops the connection ABRUPTLY after handling (no
  * close frame — disconnect injection). `refuseFirst` connections are
  * closed before the handshake (connect-retry injection). Connection
  * indexes count accepted handshakes from 0.
  *
  * Specs wait on server-side events instead of the clock: [[handled]]
  * ticks once a client text frame has been handled (its replies are on
  * the wire). With `syncPings` the server follows every handled frame
  * with a ping; the client's pong ticks [[synced]]. A client hands
  * messages to its listener in order and answers a ping after the
  * messages before it, so the n-th sync means every frame sent before the
  * n-th ping has reached the client's listener. A connection the handler
  * drops is then closed only after that pong: whatever the handler sent
  * reached the client before the drop. [[pinged]] ticks on each client
  * ping; with `pongGate` the server answers pings only once that latch
  * is open (late-pong injection). */
final class TinyWsServer(
    handler: (Int, String, String => Unit) => Boolean,
    refuseFirst: Int = 0, syncPings: Boolean = false,
    pongGate: Option[CountDownLatch] = None) extends AutoCloseable {
  private val refusals = new AtomicInteger(refuseFirst)
  private val connCount = new AtomicInteger(0)
  private val server = new ServerSocket(0, 8,
    java.net.InetAddress.getByName("127.0.0.1"))
  val url = s"ws://127.0.0.1:${server.getLocalPort}/"

  val handled = new TinyWsServer.Events
  val synced = new TinyWsServer.Events
  val pinged = new TinyWsServer.Events

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      if (refusals.getAndUpdate(n => math.max(n - 1, 0)) > 0) sock.close()
      else new Thread(() => try serve(sock) finally sock.close()).start()
    } catch { case _: Throwable => () } // closed
  })
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: java.net.Socket): Unit = {
    val connIdx = connCount.getAndIncrement()
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    // --- HTTP Upgrade handshake ---
    val lines = Iterator.continually {
      val sb = new StringBuilder
      var c = in.read()
      while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      sb.toString
    }.takeWhile(_.nonEmpty).toList
    val key = lines.collectFirst {
      case l if l.toLowerCase.startsWith("sec-websocket-key:") =>
        l.split(":", 2)(1).trim
    }.getOrElse(sys.error("no Sec-WebSocket-Key"))
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          .getBytes(StandardCharsets.US_ASCII)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII))
    out.flush()
    // --- frame loop ---
    var open = true
    var dropOnPong = false
    while (open) {
      val b0 = in.read()
      if (b0 == -1) open = false
      else {
        val opcode = b0 & 0x0f
        val b1 = in.read()
        val masked = (b1 & 0x80) != 0
        var len: Long = b1 & 0x7f
        if (len == 126) len = in.readUnsignedShort().toLong
        else if (len == 127) len = in.readLong()
        val mask = if (masked) {
          val m = new Array[Byte](4); in.readFully(m); m
        } else null
        val payload = new Array[Byte](len.toInt)
        in.readFully(payload)
        if (masked)
          payload.indices.foreach(i =>
            payload(i) = (payload(i) ^ mask(i % 4)).toByte)
        opcode match {
          case 0x1 => // text → the pluggable handler
            val text = new String(payload, StandardCharsets.UTF_8)
            val keep = handler(connIdx, text, t => sendText(out, t))
            if (syncPings) out.synchronized {
              out.write(0x89); out.write(0); out.flush()
            }
            // abrupt drop, no close frame: at once, or after the sync
            if (!keep) { if (syncPings) dropOnPong = true else open = false }
            handled.tick()
          case 0x8 => // close: echo and finish
            out.write(Array(0x88.toByte, 0x00.toByte)); out.flush()
            open = false
          case 0x9 => // ping → pong
            pinged.tick()
            pongGate.foreach(g =>
              require(g.await(2, TimeUnit.MINUTES), "pong gate never opened"))
            out.synchronized {
              out.write(0x8a); out.write(payload.length)
              out.write(payload); out.flush()
            }
          case 0xa => // pong to a sync ping
            synced.tick()
            if (dropOnPong) open = false
          case _ => ()
        }
      }
    }
  }

  private def sendText(out: DataOutputStream, text: String): Unit =
    out.synchronized {
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      out.write(0x81)
      if (bytes.length < 126) out.write(bytes.length)
      else if (bytes.length < 65536) {
        out.write(126); out.writeShort(bytes.length)
      } else { out.write(127); out.writeLong(bytes.length.toLong) }
      out.write(bytes)
      out.flush()
    }

  override def close(): Unit = server.close()
}

object TinyWsServer {
  /** A count of server events; the n-th tick trips the latch [[await]]
    * (n) blocks on. */
  final class Events {
    private val count = new AtomicInteger(0)
    private val latches = new ConcurrentHashMap[Int, CountDownLatch]()
    private def latch(n: Int) =
      latches.computeIfAbsent(n, _ => new CountDownLatch(1))

    private[graft] def tick(): Unit = latch(count.incrementAndGet()).countDown()

    def seen: Int = count.get

    /** Blocks until the n-th event; the bound only turns a hang into a
      * failure. */
    def await(n: Int): Unit =
      require(latch(n).await(2, TimeUnit.MINUTES), s"event $n never came")
  }
}
