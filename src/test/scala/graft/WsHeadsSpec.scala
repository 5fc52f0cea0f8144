package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.CountDownLatch

import graft.chain.ChainFixture
import graft.etl.{RpcCodec, WsHeads}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[WsHeads]] — the newHeads push subscription — driven against an
  * in-process RFC 6455 server (the WebSocket protocol is public and a
  * minimal server is ~100 lines: HTTP Upgrade handshake with the
  * SHA-1/base64 accept key, masked client→server frames, unmasked
  * server→client text frames). The server speaks the node pubsub
  * protocol from the same fixture the HTTP specs use, so both
  * transports are covered end-to-end with zero network egress:
  *
  *  - subscribe → ack → pushed notifications arrive in order;
  *  - the streaming heads source in push mode (`wsUrl` arrival signal
  *    + `apiUrl` data plane) collects every fixture head;
  *  - connect retry against a server that refuses first connections;
  *  - a dropped connection is replaced, and a late pong is not mistaken
  *    for one.
  *
  * Every wait is on a server-side event ([[TinyWsServer.handled]],
  * [[TinyWsServer.synced]], [[TinyWsServer.pinged]]), never on a
  * deadline: once the server has seen the pong to the ping it sent
  * after a subscribe, every header it pushed before that ping sits in
  * the client's queue.
  */
class WsHeadsSpec extends AnyFunSuite with BeforeAndAfterAll
    with TempDirCleanup {

  lazy val spark: org.apache.spark.sql.SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()

  private lazy val fx = ChainFixture.build(40)

  override def afterAll(): Unit = {
    servers.foreach(s => try s.close() catch { case _: Throwable => () })
    spark.stop()
    super.afterAll()
  }

  private val servers =
    scala.collection.mutable.ArrayBuffer.empty[TinyWsServer]

  private def headerJson(b: graft.chain.Block): String =
    JsonMethods.compact(JObject(
      "jsonrpc" -> JString("2.0"),
      "method" -> JString("xcb_subscription"),
      "params" -> JObject(
        "subscription" -> JString("0xfeed01"),
        "result" -> RpcCodec.encodeBlock(b, Nil, full = false))))

  /** A pubsub node on the shared [[TinyWsServer]]: on `*_subscribe` it
    * acks with a subscription id and pushes that connection's headers
    * (`pushByConnection` override, else `pushOnSubscribe`); connections
    * in `dropConnections` are dropped abruptly once the client has
    * answered the sync ping that follows the pushes. */
  private def subscribeServer(pushOnSubscribe: Seq[String],
      refuseFirst: Int = 0,
      pushByConnection: Map[Int, Seq[String]] = Map.empty,
      dropConnections: Set[Int] = Set.empty,
      pongGate: Option[CountDownLatch] = None): TinyWsServer =
    new TinyWsServer((connIdx, text, send) => {
      if (text.contains("_subscribe")) {
        send("""{"jsonrpc":"2.0","id":1,"result":"0xfeed01"}""")
        pushByConnection.getOrElse(connIdx, pushOnSubscribe).foreach(send)
        !dropConnections(connIdx)
      } else true
    }, refuseFirst, syncPings = true, pongGate = pongGate)

  private def number(h: JValue): Long = RpcCodec.hexToLong(
    h \ "number" match { case JString(s) => s; case _ => "" })

  test("subscribe, ack, and pushed newHeads arrive in order") {
    val srv = subscribeServer(fx.blocks.take(5).map(headerJson))
    servers += srv
    val ws = new WsHeads(srv.url)
    try {
      srv.synced.await(1) // the ack and all five pushes reached the client
      val got = ws.pollHeaders()
      assert(got.size == 5, s"expected 5 pushed headers, got ${got.size}")
      assert(ws.subscription.contains("0xfeed01"))
      assert(got.map(number) == (0L until 5L))
      assert(got.map(h => RpcCodec.unhexField(h \ "hash")) ==
        fx.blocks.take(5).map(_.hash))
    } finally ws.close()
  }

  test("connect retry survives refused connections") {
    val srv = subscribeServer(Nil, refuseFirst = 2)
    servers += srv
    val ws = new WsHeads(srv.url, retryBackoffMs = 50L)
    try {
      srv.synced.await(1) // subscribed on the third connection
      assert(ws.subscription.contains("0xfeed01"))
      assert(ws.pollHeaders() == Nil) // connected, no pushes
    } finally ws.close()
  }

  test("dropped connection: pollHeaders reconnects and resubscribes " +
      "instead of returning empty forever") {
    val headers = fx.blocks.take(5).map(headerJson)
    val srv = subscribeServer(Nil,
      pushByConnection = Map(0 -> headers.take(3), 1 -> headers.drop(3)),
      dropConnections = Set(0))
    servers += srv
    // a short heartbeat: the JDK client may never report the drop, and
    // then only the unanswered heartbeat ping reveals it
    val ws = new WsHeads(srv.url, retryBackoffMs = 50L, heartbeatMs = 100L)
    try {
      // connection 0 pushes heads 0-2, and drops the socket abruptly once
      // the client has answered the sync ping after them: all three
      // reached the client before the drop
      srv.synced.await(1)
      val first = ws.pollHeaders()
      // a waiting poll must notice the dead connection (from the client's
      // close callbacks or from its heartbeat), reconnect and resubscribe;
      // connection 1 then pushes heads 3-4. The wait only bounds a hang.
      val rest = ws.pollHeaders(waitMs = 120000L).toBuffer
      srv.synced.await(2) // connection 1's heads have all arrived
      rest ++= ws.pollHeaders()
      assert((first ++ rest).map(number) == (0L until 5L),
        s"heads across the reconnect: ${(first ++ rest).map(number)}")
    } finally ws.close()
  }

  test("a pong later than the heartbeat but within its timeout keeps the " +
      "connection") {
    val pongs = new CountDownLatch(1)
    val srv = subscribeServer(Nil, pongGate = Some(pongs))
    servers += srv
    val ws = new WsHeads(srv.url, heartbeatMs = 200L) // pong timeout 3 s
    try {
      srv.synced.await(1) // subscribed
      // silent for six heartbeats: a poll pings after the first, and the
      // server holds the pong until the last
      ws.pollHeaders(waitMs = 1200L)
      srv.pinged.await(1)
      pongs.countDown()
      // wait out the first ping's pong timeout: had its late pong not
      // counted, the client would have reconnected by now
      ws.pollHeaders(waitMs = 3500L)
      assert(srv.handled.seen == 1, "a late pong caused a reconnect")
      assert(srv.pinged.seen > 1, "the heartbeat stopped after a late pong")
      assert(ws.pollHeaders() == Nil)
    } finally { pongs.countDown(); ws.close() }
  }

  test("heads stream in push mode: WS arrival signal + HTTP data plane " +
      "deliver every fixture head") {
    // WS server pushes all 40 headers on subscribe; the HTTP server
    // (same wire codec as RpcSourceSpec's) serves the header fetches
    val wsSrv = subscribeServer(fx.blocks.map(headerJson))
    servers += wsSrv
    val http = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      def handle(req: JValue): JValue = {
        val n = RpcCodec.hexToLong(
          (req \ "params")(0).asInstanceOf[JString].s)
        JObject("jsonrpc" -> JString("2.0"), "id" -> (req \ "id"),
          "result" -> RpcCodec.encodeBlock(fx.blocks(n.toInt), Nil,
            full = false))
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => JsonMethods.compact(JArray(reqs.map(handle)))
        case one => JsonMethods.compact(handle(one))
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    http.start()
    try {
      val q = spark.readStream
        .format("graft.sources.ChainHeadsProvider")
        .option("numBlocks", "40")
        .option("blocksPerBatch", "15")
        .option("wsUrl", wsSrv.url)
        .option("apiUrl", s"http://127.0.0.1:${http.getAddress.getPort}/")
        .load()
        .writeStream.format("memory").queryName("ws_heads")
        .option("checkpointLocation", tempDir("graft-ws-heads-ckpt"))
        .start()
      try {
        // the stream subscribed and every pushed head reached its queue,
        // so every trigger from now on releases them. One that was
        // already running when the sync landed may end the first wait
        // early; the second wait then sees a trigger that started after.
        wsSrv.synced.await(1)
        q.processAllAvailable()
        if (spark.table("ws_heads").count() < 40) q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("ws_heads").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val want = fx.blocks.map(b => (b.number, b.hash, b.parent_hash)).toSet
      assert(got == want, s"missing=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
    } finally http.stop(0)
  }
}
