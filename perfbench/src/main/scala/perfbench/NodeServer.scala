package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** An in-process Helium node: serves a generated chain over the JSON-RPC
  * methods `graft.helium.HttpNode` calls (`block_height`, `block_get`,
  * `transaction_get`) from one server thread on a loopback port.
  *
  * Only blocks up to the revealed tip exist as far as clients can tell;
  * the benchmark moves the tip with [[reveal]]. Calls are counted per
  * method so the node layer's work per block can be reported. */
final class NodeServer(blocks: IndexedSeq[String], txns: Map[String, String]) {
  private val mapper = new ObjectMapper()
  @volatile private var tip = 0L
  val heightCalls = new AtomicLong
  val blockCalls = new AtomicLong
  val txnCalls = new AtomicLong

  private val pool: ExecutorService = Executors.newSingleThreadExecutor()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def maxHeight: Long = blocks.size.toLong
  def revealed: Long = tip

  /** Make blocks up to `height` visible. */
  def reveal(height: Long): Unit = {
    require(height <= maxHeight, s"chain has only $maxHeight blocks")
    tip = height
  }

  /** Bytes of chain JSON (blocks and their transactions) up to `height`. */
  def inputBytes(height: Long): Long =
    blocks.take(height.toInt).map { b =>
      val node = mapper.readTree(b)
      val stubs = node.get("transactions")
      var n = b.getBytes(UTF_8).length.toLong
      for (i <- 0 until stubs.size())
        n += txns(stubs.get(i).get("hash").asText).getBytes(UTF_8).length
      n
    }.sum

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  private def handle(ex: HttpExchange): Unit = {
    val body = try {
      val req = mapper.readTree(ex.getRequestBody)
      val params = req.get("params")
      req.get("method").asText match {
        case "block_height" =>
          heightCalls.incrementAndGet()
          result(s"""{"height":$tip}""")
        case "block_get" =>
          blockCalls.incrementAndGet()
          val h = params.get("height").asLong
          if (h >= 1 && h <= tip) result(blocks((h - 1).toInt)) else notFound
        case "transaction_get" =>
          txnCalls.incrementAndGet()
          txns.get(params.get("hash").asText).map(result).getOrElse(notFound)
        case m =>
          s"""{"jsonrpc":"2.0","id":"1","error":{"code":-32601,"message":"no method $m"}}"""
      }
    } catch {
      case e: Exception =>
        s"""{"jsonrpc":"2.0","id":"1","error":{"code":-32700,"message":"${e.getClass.getSimpleName}"}}"""
    }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def result(json: String): String =
    s"""{"jsonrpc":"2.0","id":"1","result":$json}"""

  private val notFound =
    """{"jsonrpc":"2.0","id":"1","error":{"code":-32602,"message":"not found"}}"""
}
