package graft.helium

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, ExecutionException, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** JSON-RPC 2.0 client for a Helium `blockchain-node` — the `http(s)://`
  * backend of the [[NodeClient]] seam. Call semantics mirror the
  * reference's helium-jsonrpc crate usage (`blocks::height`,
  * `blocks::get_raw`, `transactions::get` — call sites
  * /root/reference/src/follower.rs:76,156 and
  * src/block_processor.rs:29,58): one POST per call with
  * `{"jsonrpc":"2.0","id":"1","method":...,"params":...}`, the `result`
  * subtree is the payload, a `error` member means the node doesn't have
  * the block/txn (mapped to None, like the fixture backend).
  *
  * Serializable by construction: state is the endpoint string; every call
  * opens its own connection, so executor-side [[source.BlockPartitionReader]]s
  * fetch their height ranges in parallel with no shared client. The
  * Jackson mapper is per-JVM (`@transient lazy`).
  *
  * Each call is a round-trip the caller would otherwise wait out alone, so
  * the batch reads ([[getBlockJsons]], [[getTxnJsons]]) put a whole window
  * of calls in flight at once: each key's call runs on one JVM-wide pool
  * of [[NodeClient.Window]] daemon threads, shared by every task of the
  * executor, and the results come back in key order. The calls are the
  * same ones, one per key, with the retry rules below; only their waits
  * overlap. The first failing key (in key order) rethrows its own
  * exception, and the window's outstanding calls are cancelled, as they
  * are when the waiting task is interrupted.
  *
  * Transient failures (transport errors, HTTP 5xx/408/429, JSON-RPC
  * -32603 / -32000..-32099 server errors) are retried executor-side up to
  * `maxAttempts` with jittered exponential backoff, so one node hiccup
  * doesn't fail a whole micro-batch; a PERSISTENT failure still aborts
  * loudly after the attempts are exhausted, and deterministic errors
  * (HTTP 4xx other than 408/429 — wrong URL/auth/service; JSON-RPC
  * method-not-found -32601 — wrong node version) fail fast, never retry.
  */
class HttpNode(endpoint: String, maxAttempts: Int = 3) extends NodeClient {

  @transient private lazy val mapper = new ObjectMapper()

  private def post(body: String): String = {
    val conn = new java.net.URI(endpoint).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      conn.setDoOutput(true)
      // no conn.disconnect() on the SUCCESS path: closing the streams
      // returns the socket to the JDK keep-alive pool, so successive
      // windows of calls reuse their TCP (and TLS) connections instead
      // of handshaking per block
      val out = conn.getOutputStream
      try out.write(body.getBytes(UTF_8)) finally out.close()
      val code = conn.getResponseCode
      if (code / 100 != 2) {
        // read the error body if the server sent one — but a bodyless
        // 4xx (auth proxy, Content-Length: 0) has a null error stream,
        // and falling back to getInputStream would throw a PLAIN
        // IOException before HttpStatusError is constructed, silently
        // reclassifying a deterministic 4xx as transient (retried)
        val txt = Option(conn.getErrorStream).map { es =>
          try scala.io.Source.fromInputStream(es, "UTF-8").mkString
          finally es.close()
        }.getOrElse("")
        throw new HttpNode.HttpStatusError(code,
          s"node $endpoint returned HTTP $code: ${txt.take(200)}")
      }
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    } catch {
      case e: Throwable =>
        // a failed exchange leaves a half-read connection that cannot
        // rejoin the keep-alive pool; sever it so a flaky node polled
        // every trigger doesn't accumulate lingering sockets
        conn.disconnect()
        throw e
    }
  }

  /** One JSON-RPC call; Some(result-as-json), or None ONLY for the
    * node's "no such block/txn" channel (exactly code -32602, the
    * invalid-params code blockchain-node answers unknown heights/hashes
    * with). Any OTHER in-band error — internal error -32603, server
    * errors -32000..-32099, method-not-found -32601, parse errors —
    * THROWS like a transport failure: a lenient batch scan treats None
    * as a legitimate gap, so mapping a transient server hiccup to None
    * would silently drop a block from a "successful" scan. Transient
    * errors are retried (see class doc); after `maxAttempts` the last
    * failure propagates — the streaming source treats it like the
    * reference treats a dead node (abort the tick, retry next trigger). */
  private def call(method: String, params: Option[String]): Option[String] = {
    var attempt = 1
    while (attempt < maxAttempts) {
      try return callOnce(method, params)
      catch {
        case _: HttpNode.TransientNodeError =>
          // jittered exponential backoff: parallel partition readers
          // retrying against one recovering node must not re-synchronize
          val sleepMs = (100L << (attempt - 1)) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50L)
          Thread.sleep(sleepMs)
          attempt += 1
      }
    }
    callOnce(method, params) // last attempt: any failure propagates
  }

  private def callOnce(method: String, params: Option[String]): Option[String] = {
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0")
    req.put("id", "1")
    req.put("method", method)
    params.foreach(p => req.set[JsonNode]("params", mapper.readTree(p)))
    // Transport failures, HTTP 5xx, and torn/unparseable responses are
    // transient-classed (worth a retry); deterministic HTTP 4xx —
    // 404/401/403 from a wrong URL, missing auth, or a non-node service
    // — fails FAST, because backoff-retrying a permanently-broken
    // endpoint costs (maxAttempts−1) extra requests plus ~300 ms sleep
    // per height in the lenient per-block scan. 408 (request timeout)
    // and 429 (rate limit) are the two 4xx that describe a transient
    // server condition, so they retry like 5xx. 3xx is deterministic
    // too: this client never follows redirects, so a redirecting
    // endpoint is a misconfiguration that no retry can fix.
    val resp = try mapper.readTree(post(mapper.writeValueAsString(req)))
      catch {
        case e: HttpNode.HttpStatusError
            if (e.code / 100 == 4 && e.code != 408 && e.code != 429) ||
              e.code / 100 == 3 =>
          throw e
        case e: java.io.IOException =>
          throw new HttpNode.TransientNodeError(
            s"node $endpoint: $method transport failure", e)
      }
    val err = resp.get("error")
    if (err != null && !err.isNull) {
      val code = Option(err.get("code")).map(_.asInt()).getOrElse(0)
      val msg = Option(err.get("message")).map(_.asText()).getOrElse("")
      // not-found is EXACTLY code -32602 — a message heuristic would
      // also match -32601 "Method not found" (wrong node version /
      // wrong service on the port), which must be loud, not a silent
      // all-gaps chain
      if (code == -32602) None
      else if (code == -32603 || (code <= -32000 && code >= -32099))
        // the node's transient channel (internal/server errors): the
        // reference's answer is "retry next tick"; ours is a bounded
        // in-place retry before giving the tick up
        throw new HttpNode.TransientNodeError(
          s"node $endpoint: $method failed with JSON-RPC error $code: " +
            msg.take(200), null)
      else throw new java.io.IOException(
        s"node $endpoint: $method failed with JSON-RPC error $code: " +
          msg.take(200))
    }
    else Option(resp.get("result")).filterNot(_.isNull).map(_.toString)
  }

  override def height(): Long = {
    val res = call("block_height", None).getOrElse(
      throw new IllegalStateException(s"node $endpoint: block_height errored"))
    val n = mapper.readTree(res)
    // blockchain-node returns {"height": N}; accept a bare number too
    if (n.isNumber) n.asLong()
    else Option(n.get("height")).map(_.asLong()).getOrElse(
      throw new IllegalStateException(
        s"node $endpoint: unexpected block_height result: ${res.take(200)}"))
  }

  override def getBlockJson(h: Long): Option[String] =
    call("block_get", Some(s"""{"height":$h}"""))

  override def getTxnJson(hash: String): Option[String] =
    call("transaction_get",
      Some(mapper.writeValueAsString(
        mapper.createObjectNode().put("hash", hash))))

  override def getBlockJsons(heights: Seq[Long]): Seq[Option[String]] =
    HttpNode.inFlight(heights)(getBlockJson)

  override def getTxnJsons(hashes: Seq[String]): Seq[Option[String]] =
    HttpNode.inFlight(hashes)(getTxnJson)
}

object HttpNode {
  /** Where every HttpNode in the JVM runs its batch reads' calls: at most
    * [[NodeClient.Window]] at once, on daemon threads that exit when idle. */
  private lazy val pool: ThreadPoolExecutor = {
    val p = new ThreadPoolExecutor(NodeClient.Window, NodeClient.Window,
      30L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), r => {
        val t = new Thread(r, "graft-node-call")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `f` of every key, run concurrently on [[pool]], results in key order.
    * Waiting in key order makes the first failing KEY's exception the one
    * rethrown (unwrapped from its `ExecutionException`); on that failure,
    * or when the waiting thread is interrupted (a killed task), the calls
    * still outstanding are cancelled. */
  private def inFlight[K, V](keys: Seq[K])(f: K => V): Seq[V] = {
    val calls = keys.iterator
      .map(k => pool.submit(new Callable[V] { def call(): V = f(k) }))
      .toVector
    try calls.map { c =>
      try c.get() catch { case e: ExecutionException => throw e.getCause }
    } catch {
      case t: Throwable =>
        calls.foreach(_.cancel(true))
        throw t
    }
  }

  /** A failure worth retrying (transport, HTTP 5xx/408/429, JSON-RPC
    * -32603/-32000..-32099). Extends IOException so callers that treat
    * node failures generically (lenient scans, the streaming source)
    * see the same type they always did once retries are exhausted. */
  private[helium] class TransientNodeError(msg: String, cause: Throwable)
    extends java.io.IOException(msg, cause)

  /** Non-2xx HTTP response, with the status carried out of [[post]] so
    * the retry loop can tell a deterministic 4xx (fail fast) from a
    * transient 5xx/408/429 (backoff and retry). */
  private[helium] class HttpStatusError(val code: Int, msg: String)
    extends java.io.IOException(msg)
}
