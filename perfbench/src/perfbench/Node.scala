package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReferenceArray}

import com.sun.net.httpserver.HttpServer
import graft.etl.RpcCodec
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Loopback JSON-RPC node serving a generated chain over HTTP, the wire the
  * engine's `RpcSource` and live heads reader speak. Every block (full and
  * hash-only) and receipt response is rendered when loaded, so serving a
  * request only parses it and concatenates strings. The pool is no larger
  * than the core count; POSTs, calls, wire bytes and handler busy time are
  * counted server-side so a harness bottleneck shows in the report.
  *
  * `tip` bounds what the node admits to: heights above it answer null. A
  * height's rendering can be swapped (a reorg) while serving. */
final class Node(capacity: Int, threads: Int) extends AutoCloseable {
  import Node.Rendered
  private val blocks = new AtomicReferenceArray[Rendered](capacity)
  private val receipts = new ConcurrentHashMap[String, String]
  val tip = new AtomicLong(-1L)

  val posts, calls, receiptCalls, wireBytes, busyNs = new AtomicLong

  def resetCounters(): Unit =
    Seq(posts, calls, receiptCalls, wireBytes, busyNs).foreach(_.set(0L))

  /** Render blocks into their height slots (replacing what was there). */
  def load(chain: Seq[ChainGen.GBlock]): Unit = chain.foreach { g =>
    def render(full: Boolean) =
      JsonMethods.compact(RpcCodec.encodeBlock(g.block, g.txs, full))
    blocks.set(g.block.number.toInt, Rendered(render(true), render(false)))
    g.receipts.foreach(r =>
      receipts.put(r.tx_hash, JsonMethods.compact(RpcCodec.encodeReceipt(r))))
  }

  private def result(req: JValue): String = {
    val JString(method) = req \ "method"
    def param(i: Int) = (req \ "params").asInstanceOf[JArray].arr(i)
    method match {
      case "xcb_blockNumber" => "\"" + RpcCodec.longToHex(tip.get) + "\""
      case "xcb_getBlockByNumber" =>
        val JString(h) = param(0)
        val n = RpcCodec.hexToLong(h)
        if (n > tip.get || n >= capacity || blocks.get(n.toInt) == null) "null"
        else {
          val r = blocks.get(n.toInt)
          if (param(1) == JBool(true)) r.full else r.hashes
        }
      case "xcb_getTransactionReceipt" =>
        receiptCalls.incrementAndGet()
        val JString(h) = param(0)
        Option(receipts.get(h.stripPrefix("0x"))).getOrElse("null")
      case other => sys.error(s"unsupported method $other")
    }
  }

  private def answer(req: JValue): String = {
    calls.incrementAndGet()
    "{\"jsonrpc\":\"2.0\",\"id\":" + JsonMethods.compact(req \ "id") +
      ",\"result\":" + result(req) + "}"
  }

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", { ex =>
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    posts.incrementAndGet()
    val resp = (JsonMethods.parse(new String(body, StandardCharsets.UTF_8)) match {
      case JArray(reqs) => reqs.map(answer).mkString("[", ",", "]")
      case one => answer(one)
    }).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, resp.length.toLong)
    ex.getResponseBody.write(resp)
    ex.close()
    wireBytes.addAndGet(body.length.toLong + resp.length)
    busyNs.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object Node {
  private final case class Rendered(full: String, hashes: String)
}
