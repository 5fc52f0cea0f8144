package graft.etl

import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The node's `newHeads` PUSH subscription over WebSocket — the
  * reference provider's native transport (provider.rs:26-47:
  * `connect_pubsub` + `subscribe_blocks`) on the JDK's own
  * `java.net.http.WebSocket` client; JSON rides on json4s. No new
  * dependencies, same as [[RpcClient]].
  *
  * Protocol (public Geth/Core pubsub convention):
  *   → `{"id":1,"method":"<ns>_subscribe","params":["newHeads"]}`
  *   ← `{"id":1,"result":"0x<subscription id>"}`
  *   ← `{"method":"<ns>_subscription","params":{"subscription":…,
  *        "result":{<block header>}}}` per new head, pushed.
  *
  * Role in the engine: the DRIVER-side arrival signal for
  * [[graft.sources.ChainHeadsSource]] — notifications carry headers,
  * the stream's `latestOffset` drains them to learn how far the chain
  * has advanced, and the DATA plane stays on the executor-side batched
  * HTTP fetch (the reference consumes its subscription the same way,
  * etl.rs:128-173: the notification triggers a fetch, it is not the
  * record of truth). Connect retries mirror provider.rs:25-38.
  *
  * A connection the node dropped without the client noticing (the JDK
  * client can miss an abrupt TCP close and never call onClose or
  * onError) is caught by a heartbeat: after `heartbeatMs` without a
  * frame from the node, a poll pings it, and a ping still unanswered
  * after [[WsHeads.PongTimeoutHeartbeats]] heartbeats counts as a lost
  * connection. */
final class WsHeads(url: String, namespace: String = "xcb",
    retries: Int = 5, retryBackoffMs: Long = 200L,
    heartbeatMs: Long = WsHeads.HeartbeatMs) extends AutoCloseable {
  private val pongTimeoutMs = heartbeatMs * WsHeads.PongTimeoutHeartbeats

  private val headers = new LinkedBlockingQueue[JValue]()
  @volatile private var subscriptionId: Option[String] = None
  @volatile private var subscribeError: Option[String] = None
  /** Set by onClose/onError: a dropped connection (node restart, idle
    * timeout) must not leave pollHeaders returning empty forever — the
    * next poll reconnects and resubscribes, or throws if it can't. */
  @volatile private var connectionLost: Option[String] = None
  @volatile private var closedByUs = false
  /** When the current connection last heard from the node, and when the
    * heartbeat ping still waiting for its pong went out (nanoTime). */
  @volatile private var lastHeard = System.nanoTime()
  @volatile private var pingSent: Option[Long] = None

  private def heard(): Unit = { lastHeard = System.nanoTime(); pingSent = None }

  private def handleMessage(text: String): Unit = {
    val j = JsonMethods.parse(text)
    (j \ "id", j \ "method") match {
      case (JInt(_), _) => (j \ "result", j \ "error") match {
        case (JString(sub), _) => subscriptionId = Some(sub)
        case (_, err) if err != JNothing && err != JNull =>
          // a rejected subscribe (pubsub disabled, wrong namespace)
          // must not leave the consumer stalled forever in silence —
          // record it so the next poll throws with the node's reason
          subscribeError = Some(JsonMethods.compact(err))
        case _ => ()
      }
      case (_, JString(m)) if m == s"${namespace}_subscription" =>
        headers.put(j \ "params" \ "result")
      case _ => ()
    }
  }

  /** Bumped per connection attempt: an ABORTED old socket may still
    * deliver onClose/onError after a reconnect — only the listener of
    * the CURRENT generation may flag the connection lost, or a stale
    * callback would trigger a spurious reconnect loop. */
  private val generation = new java.util.concurrent.atomic.AtomicInteger(0)

  private def newListener() = new java.net.http.WebSocket.Listener {
    private val gen = generation.incrementAndGet()
    private val buf = new StringBuilder
    override def onText(ws: java.net.http.WebSocket,
        data: CharSequence, last: Boolean): CompletionStage[_] = {
      if (gen == generation.get()) heard()
      buf.append(data)
      if (last) { val t = buf.toString(); buf.setLength(0); handleMessage(t) }
      ws.request(1)
      null
    }
    override def onPong(ws: java.net.http.WebSocket,
        message: java.nio.ByteBuffer): CompletionStage[_] = {
      if (gen == generation.get()) heard()
      ws.request(1)
      null
    }
    // a server-initiated close or a transport error would otherwise be
    // SILENT — onText just stops arriving and the consumer stalls
    // forever; record it so pollHeaders reconnects (or throws)
    override def onClose(ws: java.net.http.WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = {
      if (gen == generation.get() && !closedByUs)
        connectionLost = Some(s"closed by peer ($statusCode: $reason)")
      null
    }
    override def onError(ws: java.net.http.WebSocket,
        error: Throwable): Unit =
      if (gen == generation.get())
        connectionLost = Some(s"transport error: $error")
  }

  /** Connect + subscribe with the bounded retry loop (provider.rs:25-38);
    * shared by construction and by pollHeaders' reconnect path. */
  private def connect(): java.net.http.WebSocket = {
    var attempt = 0
    var last: Throwable = null
    var sock: java.net.http.WebSocket = null
    while (sock == null && attempt < retries) {
      attempt += 1
      try {
        val l = newListener() // bumps generation: stale callbacks muted
        connectionLost = None // before build: the NEW socket may error
        val s = java.net.http.HttpClient.newHttpClient()
          .newWebSocketBuilder()
          .buildAsync(java.net.URI.create(url), l)
          .join()
        // subscribe INSIDE the retry loop: a socket that drops between
        // handshake and subscribe consumes one attempt, not the whole
        // budget
        try s.sendText(JsonMethods.compact(JObject(
          "jsonrpc" -> JString("2.0"), "id" -> JInt(1),
          "method" -> JString(s"${namespace}_subscribe"),
          "params" -> JArray(List(JString("newHeads"))))), true).join()
        catch {
          case e: Throwable =>
            try s.abort() catch { case _: Throwable => () }
            throw e
        }
        sock = s
        heard()
      } catch {
        case e: Throwable =>
          last = e
          if (attempt < retries) Thread.sleep(retryBackoffMs * attempt)
      }
    }
    if (sock == null) {
      // leave the loss flag SET: a caller that catches this and keeps
      // polling must keep hitting the reconnect path, not silently
      // read an empty queue off the aborted old socket forever
      connectionLost = connectionLost.orElse(Some("reconnect exhausted"))
      throw new RuntimeException(
        s"WebSocket connect to $url failed after $retries attempts", last)
    }
    sock
  }

  @volatile private var ws: java.net.http.WebSocket = connect()

  /** The confirmed subscription id, once the node acked (None before). */
  def subscription: Option[String] = subscriptionId

  /** Drain every header notification received so far (non-blocking);
    * optionally wait up to `waitMs` for the first one, keeping the
    * connection alive (heartbeat, reconnect) while waiting. Throws if the
    * node REJECTED the subscription — a stalled-forever silent stream is
    * the alternative. */
  def pollHeaders(waitMs: Long = 0L): Seq[JValue] = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    var first: JValue = null
    var waiting = true
    while (waiting) {
      keepAlive()
      val leftMs = (deadline - System.nanoTime()) / 1000000L
      first =
        if (leftMs > 0)
          headers.poll(math.min(leftMs, heartbeatMs), TimeUnit.MILLISECONDS)
        else headers.poll()
      waiting = first == null && leftMs > 0
    }
    val out = Seq.newBuilder[JValue]
    if (first != null) {
      out += first
      var next = headers.poll()
      while (next != null) { out += next; next = headers.poll() }
    }
    out.result()
  }

  /** Throw on a rejected subscribe, run the heartbeat, and replace a lost
    * connection. */
  private def keepAlive(): Unit = {
    subscribeError.foreach(e => throw new RuntimeException(
      s"${namespace}_subscribe(newHeads) rejected by $url: $e"))
    val now = System.nanoTime()
    pingSent match {
      case Some(t) if now - t > pongTimeoutMs * 1000000L =>
        connectionLost = connectionLost.orElse(
          Some(s"no pong within $pongTimeoutMs ms"))
      case None if now - lastHeard > heartbeatMs * 1000000L =>
        // a failed send needs no handling: its pong never comes either
        pingSent = Some(now)
        ws.sendPing(java.nio.ByteBuffer.allocate(0))
      case _ => ()
    }
    // dropped connection: reconnect-and-resubscribe (bounded retries;
    // throws if the node stays unreachable). Heads pushed during the
    // gap are fine to miss — the consumer treats notifications as an
    // arrival SIGNAL, and the next head's number covers the gap.
    connectionLost.foreach { why =>
      val old = ws
      try old.abort() catch { case _: Throwable => () }
      try ws = connect() // resets connectionLost on success
      catch {
        case e: Throwable => throw new RuntimeException(
          s"newHeads connection to $url lost ($why) and reconnect " +
            "failed", e)
      }
    }
  }

  override def close(): Unit = {
    closedByUs = true
    try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
      .join()
    catch { case _: Throwable => () }
  }
}

object WsHeads {
  /** Silence after which a poll pings the node: a few bytes per idle
    * interval. */
  val HeartbeatMs = 2000L

  /** Heartbeats a ping may go unanswered before the connection counts as
    * lost: 30 s at the default. Generous: it only bounds how long a drop
    * the client was never told of goes unnoticed, while a pong can lag by
    * seconds behind a busy node or a starved client, and each false alarm
    * costs a reconnect. */
  val PongTimeoutHeartbeats = 15
}
