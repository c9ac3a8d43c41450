package graft.helium

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import Model.IngestState

/** In-process JSON-RPC 2.0 mock of a Helium blockchain-node: delegates to
  * any [[NodeClient]] (usually a [[FixtureNode]]) and serves the three
  * methods the reference calls (`block_height`, `block_get`,
  * `transaction_get`). Proves the [[HttpNode]] seam end-to-end with zero
  * egress — the wire format is real, only the chain behind it is canned. */
class MockNodeHttpServer(backend: NodeClient) {
  private val mapper = new ObjectMapper()
  /** Arms `n` consecutive JSON-RPC internal errors (-32603) on calls of
    * the NAMED method — method-selective so a test can let driver-side
    * planning (block_height) succeed and fail inside the reader loop;
    * counted so tests can model both a flaky node (n < client attempts,
    * retry recovers) and a dead one (n ≥ attempts, failure surfaces). */
  private val failMethod =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val failRemaining = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Keys (the `height` or `hash` param) the armed failures hit; empty
    * means every call of the method. */
  @volatile private var failKeys = Set.empty[String]
  def armFailures(method: String, n: Int, keys: Set[String] = Set.empty): Unit = {
    failKeys = keys
    failMethod.set(method)
    failRemaining.set(n)
  }
  /** Holds every request this long before answering — a slow node, so
    * that overlapping calls are certain to overlap on the server. */
  @volatile var delayMs = 0L
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Most requests the server was handling at one time. */
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Arms `n` consecutive HTTP-level failures with the given status on
    * EVERY request — models a misconfigured endpoint (404/401) or a
    * rate-limiting proxy (429/503) in front of the node. */
  private val httpStatus = new java.util.concurrent.atomic.AtomicInteger(0)
  private val httpStatusRemaining = new java.util.concurrent.atomic.AtomicInteger(0)
  private val httpStatusEmptyBody = new java.util.concurrent.atomic.AtomicBoolean(false)
  def armHttpStatus(status: Int, n: Int, emptyBody: Boolean = false): Unit = {
    httpStatus.set(status)
    httpStatusRemaining.set(n)
    httpStatusEmptyBody.set(emptyBody)
  }
  /** Requests served per method — lets a test PROVE a retry happened. */
  val served = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      try {
        if (delayMs > 0) Thread.sleep(delayMs)
        respond(ex)
      } finally inFlight.decrementAndGet()
    }
    private def respond(ex: HttpExchange): Unit = {
      val req = mapper.readTree(ex.getRequestBody)
      val id = Option(req.get("id")).map(_.asText()).getOrElse("1")
      val method = Option(req.get("method")).map(_.asText()).getOrElse("")
      val params = req.get("params")
      served.merge(method, 1, (a, b) => a + b)
      if (httpStatusRemaining.getAndUpdate(n => math.max(n - 1, 0)) > 0) {
        if (httpStatusEmptyBody.get()) {
          // bodyless failure: HttpURLConnection.getErrorStream is null
          // on the client — the auth-proxy/Content-Length:0 shape
          ex.sendResponseHeaders(httpStatus.get(), -1)
        } else {
          val err = s"""{"error":"armed HTTP failure"}""".getBytes(UTF_8)
          ex.sendResponseHeaders(httpStatus.get(), err.length)
          ex.getResponseBody.write(err)
        }
        ex.close()
        return
      }
      val key = Option(params).flatMap(p =>
        Option(p.get("height")).orElse(Option(p.get("hash")))).map(_.asText())
      val body = if (method == failMethod.get() &&
          (failKeys.isEmpty || key.exists(failKeys)) &&
          failRemaining.getAndUpdate(n => math.max(n - 1, 0)) > 0)
        // a server-side failure that is NOT "no such entity" — the
        // client must throw, never map this to a silent None/gap
        s"""{"jsonrpc":"2.0","id":"$id","error":{"code":-32603,"message":"internal error at ${key.getOrElse("")}"}}"""
      else {
        val result: Option[String] = method match {
          case "block_height" => Some(s"""{"height":${backend.height()}}""")
          case "block_get" => backend.getBlockJson(params.get("height").asLong())
          case "transaction_get" => backend.getTxnJson(params.get("hash").asText())
          case _ => None
        }
        result match {
          case Some(r) => s"""{"jsonrpc":"2.0","id":"$id","result":$r}"""
          case None =>
            s"""{"jsonrpc":"2.0","id":"$id","error":{"code":-32602,"message":"no result for $method"}}"""
        }
      }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  })
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
}

/** The HTTP node client seam, proven over a localhost mock: client parity
  * with the fixture backend, the streaming drain, and the backfill scan —
  * the same call semantics the reference issues against a live node
  * (src/follower.rs:76,156; src/block_processor.rs:29,58). */
class HttpNodeSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def withServer[A](backend: NodeClient)(f: String => A): A = {
    val srv = new MockNodeHttpServer(backend)
    try f(srv.endpoint) finally srv.stop()
  }

  private def copiedFixture(): String = {
    val dst = tmpDir("fixthttp")
    val src = fixture("basic")
    Seq("blocks.jsonl", "txns.jsonl").foreach { f =>
      Files.copy(Paths.get(src, f), Paths.get(dst, f))
    }
    dst
  }

  test("HttpNode answers height/block/txn identically to the fixture backend") {
    val dir = copiedFixture()
    val fix = new FixtureNode(dir)
    withServer(fix) { endpoint =>
      val http = new HttpNode(endpoint)
      assert(http.height() == fix.height())
      for (h <- 99L to 106L)
        assert(http.getBlockJson(h).map(normalize)
          == fix.getBlockJson(h).map(normalize), s"block $h diverged")
      // a present txn round-trips; an unknown hash is None (JSON-RPC error)
      val txnSrc = scala.io.Source.fromFile(s"$dir/txns.jsonl")
      val someHash = try """"hash"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(txnSrc.getLines().find(_.nonEmpty).get)
        .map(_.group(1)) finally txnSrc.close()
      assert(someHash.nonEmpty)
      someHash.foreach { h =>
        assert(http.getTxnJson(h).map(normalize) == fix.getTxnJson(h).map(normalize))
      }
      assert(http.getTxnJson("no_such_hash").isEmpty)
      assert(http.getBlockJson(99999L).isEmpty)
    }
  }

  // Jackson re-serializes the result subtree, so whitespace may differ
  // from the fixture line; compare parsed trees, not raw strings
  private def normalize(json: String): com.fasterxml.jackson.databind.JsonNode =
    new ObjectMapper().readTree(json)

  test("a server error mid-scan fails the lenient batch scan — no silent shrink") {
    // lenient scans treat None as a legitimate chain gap; a -32603 from
    // the node must therefore surface as a failed job, because mapping
    // it to None would return a smaller-but-"successful" result
    val fix = new FixtureNode(copiedFixture()) // blocks 100..105
    val srv = new MockNodeHttpServer(fix)
    try {
      def scan() = spark.read
        .format(classOf[graft.helium.source.BlockSourceProvider].getName)
        .option("node", srv.endpoint)
        .load()
      assert(scan().count() == 6) // healthy baseline
      // fail a block_get specifically: driver-side planning (block_height)
      // must succeed so the error genuinely fires inside the lenient
      // per-block reader loop — the path where None means "gap".
      // PERSISTENTLY (beyond the client's bounded retries, and beyond
      // Spark's own task re-attempts): a dead node must stay loud
      srv.armFailures("block_get", 1000)
      val e = intercept[Throwable] { scan().count() }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("-32603"),
        s"expected the block_get JSON-RPC failure to surface, got: $msgs")
      srv.armFailures("block_get", 0)
      assert(scan().count() == 6) // and the node recovers
    } finally srv.stop()
  }

  test("a persistent JSON-RPC internal error throws — never a silent None/gap") {
    val fix = new FixtureNode(copiedFixture())
    val srv = new MockNodeHttpServer(fix)
    try {
      val http = new HttpNode(srv.endpoint)
      val h = http.height() // healthy first
      // more failures than the client retries: a DEAD node, not a hiccup
      srv.armFailures("block_get", 100)
      // -32603 must surface as an exception (a lenient batch scan treats
      // None as a legitimate chain gap — a dead server is not one)
      intercept[java.io.IOException] { http.getBlockJson(h) }
      // and the node recovers on the next call
      srv.armFailures("block_get", 0)
      assert(http.getBlockJson(h).nonEmpty)
      // while genuinely-missing entities still map to None
      assert(http.getBlockJson(99999L).isEmpty)
    } finally srv.stop()
  }

  test("a transient hiccup is retried in place — the call succeeds on attempt 2") {
    val fix = new FixtureNode(copiedFixture())
    val srv = new MockNodeHttpServer(fix)
    try {
      val http = new HttpNode(srv.endpoint)
      val h = http.height()
      // ONE armed failure < maxAttempts(3): the bounded executor-side
      // retry must absorb it — no exception, no None-gap, and the server
      // log proves the second request actually happened
      srv.armFailures("block_get", 1)
      val before = srv.served.getOrDefault("block_get", 0).intValue()
      assert(http.getBlockJson(h).nonEmpty,
        "a single -32603 hiccup must be absorbed by the retry, not thrown")
      val after = srv.served.getOrDefault("block_get", 0).intValue()
      assert(after - before == 2,
        s"expected exactly 2 attempts (fail, succeed); saw ${after - before}")
      // a whole micro-batch drain over a once-flaky node also completes
      srv.armFailures("block_get", 1)
      assert(spark.read
        .format(classOf[graft.helium.source.BlockSourceProvider].getName)
        .option("node", srv.endpoint)
        .load().count() == 6)
    } finally srv.stop()
  }

  test("a deterministic HTTP 4xx fails FAST (one request, no backoff); " +
    "429 and 503 retry like transients") {
    val dir = copiedFixture()
    val fix = new FixtureNode(dir)
    val srv = new MockNodeHttpServer(fix)
    try {
      val http = new HttpNode(srv.endpoint, maxAttempts = 3)
      def servedHeight = srv.served.getOrDefault("block_height", 0).intValue()
      // 404: wrong URL/service — retrying cannot fix it, and the lenient
      // per-height scan would pay (attempts-1) requests + backoff sleeps
      // per block against a permanently-broken endpoint
      srv.armHttpStatus(404, 1000)
      val b404 = servedHeight
      intercept[java.io.IOException] { http.height() }
      assert(servedHeight - b404 == 1,
        s"404 must fail on the FIRST attempt; saw ${servedHeight - b404}")
      // 429 (rate limit): transient server condition — retried, and the
      // call SUCCEEDS once the limiter clears
      srv.armHttpStatus(429, 2)
      val b429 = servedHeight
      assert(http.height() > 0)
      assert(servedHeight - b429 == 3,
        s"expected 2 rate-limited attempts + 1 success; saw ${servedHeight - b429}")
      // 503 from a proxy: transient, same contract
      srv.armHttpStatus(503, 1)
      val b503 = servedHeight
      assert(http.height() > 0)
      assert(servedHeight - b503 == 2,
        s"expected 1 failed + 1 successful attempt; saw ${servedHeight - b503}")
      // a BODYLESS 404 (null error stream client-side) must classify the
      // same as one with a body: fail fast, one request, no backoff
      srv.armHttpStatus(404, 1000, emptyBody = true)
      val bEmpty = servedHeight
      intercept[java.io.IOException] { http.height() }
      assert(servedHeight - bEmpty == 1,
        s"bodyless 404 must fail on the FIRST attempt; saw ${servedHeight - bEmpty}")
      srv.armHttpStatus(404, 0)
    } finally srv.stop()
  }

  test("follower drains the chain over http:// and commits rewards + cursor") {
    val dir = copiedFixture()
    val root = tmpDir("roothttp")
    withServer(new FixtureNode(dir)) { endpoint =>
      val store = new StateStore(spark, root)
      store.advance(IngestState(99, 100))
      val q = Follower.start(spark, endpoint, root, Model.EtlMode.Rewards)
      q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(s"$root/rewards").count() == 5)
      assert(store.load().get.height == 105)
    }
  }

  test("a Full-mode follower over http:// fetches each block and each " +
    "stub payload exactly once") {
    val root = tmpDir("roothttpfull")
    val srv = new MockNodeHttpServer(new FixtureNode(copiedFixture()))
    try {
      new StateStore(spark, root).advance(IngestState(99, 100))
      val q = Follower.start(spark, srv.endpoint, root, Model.EtlMode.Full)
      try q.processAllAvailable() finally q.stop()
      def served(method: String) = srv.served.getOrDefault(method, 0).intValue()
      // blocks 100..105 carry 7 distinct stub hashes; the rewards and the
      // transactions write share one payload fetch
      assert(served("block_get") == 6)
      assert(served("transaction_get") == 7)
      assert(spark.read.parquet(s"$root/transactions").count() == 7)
      assert(spark.read.parquet(s"$root/rewards").count() == 5)
    } finally srv.stop()
  }

  test("batch reads keep more than one call in flight and answer in key order") {
    val dir = copiedFixture()
    val fix = new FixtureNode(dir)
    val srv = new MockNodeHttpServer(fix)
    try {
      srv.delayMs = 50
      val http = new HttpNode(srv.endpoint)
      val heights = (98L to 107L).toVector // 100..105 exist
      val blocks = http.getBlockJsons(heights)
      assert(srv.maxInFlight.get() > 1,
        "one thread's batch read had at most one call in flight")
      assert(blocks.map(_.map(normalize)) ==
        heights.map(h => fix.getBlockJson(h).map(normalize)))
      // one call per key, no more
      assert(srv.served.get("block_get").intValue() == heights.size)
      val hashes = fix.getBlockJsons(100L to 105L).flatten.flatMap { b =>
        """"hash"\s*:\s*"([^"]+)"\s*,\s*"type"""".r.findAllMatchIn(b)
          .map(_.group(1))
      }.toVector :+ "no_such_hash"
      assert(hashes.size > 2)
      assert(http.getTxnJsons(hashes).map(_.map(normalize)) ==
        hashes.map(h => fix.getTxnJson(h).map(normalize)))
    } finally srv.stop()
  }

  test("a persistent -32603 in the middle of a window surfaces as the " +
    "first failing key's IOException") {
    val srv = new MockNodeHttpServer(new FixtureNode(copiedFixture()))
    try {
      val http = new HttpNode(srv.endpoint)
      srv.armFailures("block_get", 1000, keys = Set("102", "104"))
      val e = intercept[java.io.IOException] {
        http.getBlockJsons(100L to 105L)
      }
      assert(e.getMessage.contains("-32603") && e.getMessage.endsWith("at 102"),
        e.getMessage)
      srv.armFailures("transaction_get", 1000, keys = Set("abc", "xyz"))
      val t = intercept[java.io.IOException] {
        http.getTxnJsons(Seq("no_such_hash", "abc", "xyz"))
      }
      assert(t.getMessage.endsWith("at abc"), t.getMessage)
      srv.armFailures("transaction_get", 0)
      assert(http.getBlockJsons(100L to 105L).forall(_.nonEmpty))
    } finally srv.stop()
  }

  test("an interrupted batch read returns at once and cancels its queued calls") {
    val srv = new MockNodeHttpServer(new FixtureNode(copiedFixture()))
    try {
      srv.delayMs = 300
      val http = new HttpNode(srv.endpoint)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val reader = new Thread(() =>
        try http.getBlockJsons(Vector.fill(5)(100L to 105L).flatten)
        catch { case t: Throwable => failure.set(t) })
      reader.start()
      Thread.sleep(100)
      reader.interrupt()
      reader.join(5000)
      assert(!reader.isAlive, "the interrupted read kept waiting")
      assert(failure.get().isInstanceOf[InterruptedException], failure.get())
      Thread.sleep(1000) // the calls already in flight finish
      // 30 calls were asked for; at most one pool's worth had started
      val served = srv.served.getOrDefault("block_get", 0).intValue()
      assert(served <= NodeClient.Window, s"$served calls reached the node")
    } finally srv.stop()
  }

  test("a strict read names the first missing height of its window") {
    val fix = new FixtureNode(copiedFixture())
    val gappy = new NodeClient {
      override def height(): Long = 110L
      override def getBlockJson(h: Long): Option[String] =
        if (h == 102L || h == 104L) None else fix.getBlockJson(h)
      override def getTxnJson(hash: String): Option[String] = fix.getTxnJson(hash)
    }
    withServer(gappy) { endpoint =>
      val reader = new graft.helium.source.BlockPartitionReader(
        graft.helium.source.HeightRangePartition(100L, 105L,
          Map("node" -> endpoint)))
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val e = intercept[IllegalStateException] {
        while (reader.next()) got += reader.get().getLong(0)
      }
      assert(e.getMessage == "Couldn't get block 102")
      assert(got == Seq(100L, 101L))
      // a lenient read of the same range skips both gaps
      val lenient = new graft.helium.source.BlockPartitionReader(
        graft.helium.source.HeightRangePartition(100L, 105L,
          Map("node" -> endpoint), lenient = true))
      got.clear()
      while (lenient.next()) got += lenient.get().getLong(0)
      assert(got == Seq(100L, 101L, 103L, 105L))
    }
  }

  test("each trigger of the stream asks the node for its height once") {
    val dir = copiedFixture()
    val srv = new MockNodeHttpServer(new FixtureNode(dir))
    val ckpt = tmpDir("heightckpt")
    try {
      def heightCalls = srv.served.getOrDefault("block_height", 0).intValue()
      for (run <- 1 to 3) {
        val before = heightCalls
        val q = spark.readStream
          .format(classOf[graft.helium.source.BlockSourceProvider].getName)
          .option("node", srv.endpoint)
          .option("startHeight", "99")
          .load()
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        try q.awaitTermination() finally q.stop()
        assert(heightCalls - before == 1,
          s"run $run: ${heightCalls - before} block_height calls for one trigger")
      }
    } finally srv.stop()
  }

  test("backfill epoch-skip scan works over http:// (block_get + transaction_get)") {
    // the BackfillSpec epoch chain, served over the wire: rewards blocks
    // every 31 heights whose start_epoch jumps the scan down in one hop
    val rewardBlocks = (0 to 26)
      .map(i => (1000L - 31 * i) -> (1000L - 31 * i - 30)).toMap
    val backend = new NodeClient {
      // one-shot transient failure arms the last-epoch recovery path
      // (exactly BackfillSpec's flakyAt) — state lives in-process behind
      // the HTTP boundary, so the retry arrives as a second RPC
      private val failed = scala.collection.mutable.Set.empty[Long]
      override def height(): Long = 1000L
      override def getBlockJson(h: Long): Option[String] = {
        if (h == 162L && failed.add(h)) return None
        if (h < 150 || h > 1000) return None
        val txns = rewardBlocks.get(h)
          .map(_ => s"""{"hash":"r$h","type":"rewards_v2"}""").getOrElse("")
        Some(s"""{"height":$h,"time":0,"hash":"bh$h","transactions":[$txns]}""")
      }
      override def getTxnJson(hash: String): Option[String] = {
        val h = hash.stripPrefix("r").toLong
        rewardBlocks.get(h).map(se =>
          s"""{"hash":"$hash","type":"rewards_v2","fields":"{\\"start_epoch\\": $se}"}""")
      }
    }
    withServer(backend) { endpoint =>
      assert(Backfill.firstBlock(new HttpNode(endpoint)) == 150L)
    }
  }
}
