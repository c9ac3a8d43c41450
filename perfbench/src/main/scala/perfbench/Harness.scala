package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Pinned, SparkEntry, Tables}
import graft.helium.{ExactlyOnceSink, Follower, StateStore}
import graft.helium.Model.EtlMode

/** Benchmark harness: runs one workload in this JVM and writes the raw
  * measurements to `<out>/result.json` (and, traced, `<out>/spans.jsonl`).
  *
  * Usage: `Harness <config.json>`; `run.py` writes the config from the
  * run's seed and turns the raw measurements into the reported metrics. */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val res = mapper.createObjectNode()
    val out = cfg.get("out").asText
    new File(out).mkdirs()
    res.put("nproc", Runtime.getRuntime.availableProcessors)
    res.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    cfg.get("workload").asText match {
      case "ingest" => new Ingest(cfg, res).run()
      case _ => new QueryLoop(cfg, res).run()
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(s"$out/result.json"), res)
  }
}

object Host {
  /** Peak resident set of this process, from /proc/self/status. */
  def vmHwmMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Collect garbage, so the heap shrinks to what is live, then restart
    * the peak resident set from the current one (Linux `clear_refs` 5). */
  def resetPeak(): Unit = {
    System.gc()
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
  }

  /** Heap in use after a full collection: what the process keeps live.
    * Pending listener events are delivered first, and a pause after one
    * collection lets Spark's context cleaner drop the blocks of the
    * broadcasts and shuffles it released. The serial collector leaves
    * some dead space in place except on every fourth full collection
    * (`MarkSweepAlwaysCompactCount`), so the least of four is taken. */
  def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    ListenerBusDrain(sc)
    System.gc()
    Thread.sleep(500)
    ListenerBusDrain(sc)
    val rt = Runtime.getRuntime
    (1 to 4).map { _ =>
      System.gc()
      rt.totalMemory - rt.freeMemory
    }.min / 1048576.0
  }

  /** Seconds since this JVM started. */
  def uptimeS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}

/** What every workload shares: config access, session start, tracing. */
abstract class Workload(cfg: JsonNode, res: ObjectNode) {
  val seconds: Double = cfg.get("seconds").asDouble
  val traced: Boolean = cfg.get("trace").asBoolean
  val cores: Int = cfg.get("cores").asInt
  val out: String = cfg.get("out").asText
  val work: String = cfg.get("work").asText
  val spans = new Spans
  val events = new SparkEvents
  val plans = new PlanEvents
  var spark: SparkSession = _

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Register the trace listeners (traced runs only, after set-up). */
  def attachTracing(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(events)
    spark.listenerManager.register(plans)
  }

  def setPhase(op: Option[Int], phase: Option[String]): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Props.Op, op.map(_.toString).orNull)
    sc.setLocalProperty(Props.Phase, phase.orNull)
  }

  /** Jobs started inside [lo, hi] (epoch ms), except output checks. */
  def loopJobs(lo: Double, hi: Double): Seq[JobRec] =
    events.jobs.values().asScala.toSeq
      .filter(j => j.start >= lo && j.start <= hi && !j.phase.contains("check"))

  /** Per-layer counts over the measured loop, divided by `n` operations. */
  def jobLayers(layers: ObjectNode, jobs: Seq[JobRec], n: Int,
      busyWallMs: Double): Unit = {
    val st = jobs.flatMap(events.executedStagesOf)
    def per(x: Double) = if (n == 0) 0.0 else x / n
    layers.put("exec.jobs", per(jobs.size))
    layers.put("exec.stages", per(st.size))
    layers.put("exec.tasks", per(st.map(_.tasks).sum))
    val busyMs = st.map(_.runMs).sum.toDouble
    layers.put("exec.task_busy_s", per(busyMs / 1000))
    layers.put("exec.core_util",
      if (busyWallMs <= 0) 0.0 else busyMs / (busyWallMs * cores))
    layers.put("shuffle.write_bytes", per(st.map(_.shuffleWrite).sum))
    layers.put("shuffle.read_bytes", per(st.map(_.shuffleRead).sum))
    layers.put("shuffle.spill_bytes", per(st.map(_.spill).sum))
    layers.put("Tables.scan_bytes", per(st.map(_.inputBytes).sum))
    layers.put("Tables.scan_rows", per(st.map(_.inputRecords).sum))
  }

  def writeSpans(): Unit = if (traced) {
    val w = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
    try spans.all.foreach { s =>
      val n = Harness.mapper.createObjectNode()
      n.put("id", s.id); n.put("parent", s.parent); n.put("op", s.op)
      n.put("name", s.name); n.put("start_ms", s.start); n.put("end_ms", s.end)
      w.write(n.toString); w.newLine()
    } finally w.close()
  }

  /** Set-up is over: record it (from JVM start, so class loading and
    * every first-use cost count) and restart the peak resident set so
    * that it covers the measured loop only. */
  def setupDone(): Unit = {
    res.put("setup_s", Host.uptimeS)
    Host.resetPeak()
  }

  /** The measured loop is over: record its peak resident set and the
    * heap it keeps live. */
  def loopDone(): Unit = {
    res.put("peak_rss_mb", Host.vmHwmMb)
    res.put("live_heap_mb", Host.liveHeapMb(spark.sparkContext))
  }
}

/** `pipelines`: one client runs the workload's queries in the given order,
  * whole passes while they fit in the run length (at least one). Each
  * query is timed as build (the query constructor) plus exec (every output
  * column materialized through the `noop` sink). */
final class QueryLoop(cfg: JsonNode, res: ObjectNode) extends Workload(cfg, res) {
  private val data = cfg.get("data").asText
  private val warmup = strings(cfg.get("warmup"))
  private val queries = strings(cfg.get("queries"))

  /** One timed query: build in [t0, t1), exec in [t1, t2); `df` is the
    * built frame when both succeeded, `error` the failure otherwise. */
  private final case class Op(id: Int, name: String, t0: Long, t1: Long,
      t2: Long, df: Option[DataFrame], error: Option[String])

  private def runQuery(name: String, id: Int): Op = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      setPhase(Some(id), Some("build"))
      val df = fn(spark, data)
      t1 = System.nanoTime()
      setPhase(Some(id), Some("exec"))
      df.write.format("noop").mode("overwrite").save()
      Op(id, name, t0, t1, System.nanoTime(), Some(df), None)
    } catch {
      case e: Throwable =>
        val t = System.nanoTime()
        Op(id, name, t0, if (t1 == t0) t else t1, t, None, Some(errorText(e)))
    } finally setPhase(None, None)
  }

  private def tempViews(): Int =
    spark.catalog.listTables().collect().count(_.isTemporary)

  private def userRdds(): Int =
    spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)

  def run(): Unit = {
    // set-up: session start, inputs located, warm-up queries
    spark = startSession()
    graft.Catalog.tableNames.foreach(t => Tables.t(spark, data, t).schema)
    warmup.foreach { q =>
      val err = runQuery(q, 0).error
      Pinned.releaseAll(spark)
      require(err.isEmpty, s"warm-up query $q failed: ${err.get}")
    }
    setupDone()
    attachTracing()

    val checked = scala.collection.mutable.Set.empty[String]
    val ops = ArrayBuffer.empty[Op]
    var leakedRdds, leakedViews = 0
    var checkNs = 0L
    val gc0 = Host.gcMs
    val loop0 = System.nanoTime()
    var passesRun = 0
    def measured = (System.nanoTime() - loop0 - checkNs) / 1e9
    while (passesRun == 0 || seconds - measured >= measured / passesRun) {
      queries.foreach { name =>
        val rdds0 = userRdds()
        val views0 = tempViews()
        val op = runQuery(name, ops.size + 1)
        ops += op.copy(df = None)
        op.error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
        op.df.filter(_ => !checked(name)).foreach { d =>
          val c0 = System.nanoTime()
          setPhase(None, Some("check"))
          try d.write.mode("overwrite").parquet(s"$out/check/$name")
          finally setPhase(None, None)
          checked += name
          checkNs += System.nanoTime() - c0
        }
        Pinned.releaseAll(spark)
        leakedRdds += math.max(userRdds() - rdds0, 0)
        leakedViews += math.max(tempViews() - views0, 0)
      }
      passesRun += 1
    }
    val loopNs = System.nanoTime() - loop0 - checkNs
    val gcMs = Host.gcMs - gc0
    loopDone()

    res.put("passes_run", passesRun)
    res.put("loop_wall_s", loopNs / 1e9)
    res.put("check_wall_s", checkNs / 1e9)
    val arr = res.putArray("ops")
    ops.foreach { o =>
      val n = arr.addObject()
      n.put("name", o.name); n.put("ok", o.error.isEmpty)
      n.put("build_s", (o.t1 - o.t0) / 1e9); n.put("exec_s", (o.t2 - o.t1) / 1e9)
      o.error.foreach(n.put("error", _))
    }
    val oracle = res.putObject("oracle_sql")
    SparkEntry.oracleSql.filter { case (k, _) => checked(k) }
      .foreach { case (k, v) => oracle.put(k, v) }

    if (traced) {
      ListenerBusDrain(spark.sparkContext)
      val layers = res.putObject("layers")
      val n = ops.size
      def per(x: Double) = if (n == 0) 0.0 else x / n
      val opSpan = ops.map { o =>
        val root = spans.add(0, o.id, "op", o.t0, o.t2)
        spans.add(root, o.id, "queries.build", o.t0, o.t1)
        spans.add(root, o.id, "exec", o.t1, o.t2)
        o -> root
      }
      val jobs = loopJobs(spans.ms(loop0), spans.ms(System.nanoTime()))
      val byOp = jobs.groupBy(_.op.map(_.toInt).getOrElse(-1))
      val planIv = plans.phases.asScala.toSeq
      var buildSelf, planTotal, jobsWall, execSelf = 0.0
      opSpan.foreach { case (o, root) =>
        val (b0, b1, e1) = (spans.ms(o.t0), spans.ms(o.t1), spans.ms(o.t2))
        val opJobs = byOp.getOrElse(o.id, Nil)
        val jobIv = opJobs.map(j => (j.start.toDouble, j.end.toDouble))
        opJobs.foreach(j => spans.addMs(root, o.id,
          s"spark.job.${j.phase.getOrElse("")}", j.start.toDouble, j.end.toDouble))
        val opPlans = planIv.filter { case (s, e) => s >= b0 && e <= e1 + 1 }
        opPlans.foreach { case (s, e) => spans.addMs(root, o.id, "catalyst.plan", s, e) }
        val kids = jobIv ++ opPlans
        buildSelf += (b1 - b0) - Intervals.covered(kids, b0, b1)
        execSelf += (e1 - b1) - Intervals.covered(kids, b1, e1)
        planTotal += opPlans.map { case (s, e) => e - s }.sum
        jobsWall += Intervals.covered(jobIv, b0, e1)
      }
      layers.put("queries.build_s", per(ops.map(o => (o.t1 - o.t0) / 1e9).sum))
      layers.put("queries.build_jobs", per(jobs.count(_.phase.contains("build"))))
      layers.put("catalyst.plan_s", per(planTotal / 1000))
      layers.put("exec.wall_s", per(ops.map(o => (o.t2 - o.t1) / 1e9).sum))
      jobLayers(layers, jobs, n, ops.map(o => (o.t2 - o.t0) / 1e6).sum)
      layers.put("jvm.gc_s", per(gcMs / 1000.0))
      layers.put("Pinned.leaked_rdds", per(leakedRdds))
      layers.put("catalog.leaked_temp_views", per(leakedViews))
      layers.put("self.queries.build_s", per(buildSelf / 1000))
      layers.put("self.catalyst.plan_s", per(planTotal / 1000))
      layers.put("self.exec.jobs_s", per(jobsWall / 1000))
      layers.put("self.exec.driver_s", per(execSelf / 1000))
      writeSpans()
    }
    spark.stop()
  }
}

/** `ingest`: the real follower (`Follower.start`, Full mode) tails a
  * generated chain served by an in-process JSON-RPC node. Closed loop: the
  * next seeded batch of blocks is revealed only once the previous batch's
  * cursor has committed; seeded downstream reads over the committed store
  * run between batches. */
final class Ingest(cfg: JsonNode, res: ObjectNode) extends Workload(cfg, res) {
  private val batches = cfg.get("batches").elements().asScala.map(_.asInt).toSeq
  private val reads = cfg.get("reads").elements().asScala.map(r =>
    r.elements().asScala.map(x => (x.get(0).asText, x.get(1).asInt)).toSeq).toSeq
  private val cycle = cfg.get("cycle").asInt
  private val triggerMs = cfg.get("trigger_ms").asLong
  private val maxWaitNs = (cfg.get("max_wait_s").asDouble * 1e9).toLong
  private val streams = new StreamEvents

  private def lines(p: String) =
    Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).toIndexedSeq

  private def loadServer(): NodeServer = {
    val blocks = lines(cfg.get("blocks").asText)
    val txns = lines(cfg.get("txns").asText).map { l =>
      Harness.mapper.readTree(l).get("hash").asText -> l
    }.toMap
    new NodeServer(blocks, txns)
  }

  /** Wait until the follower's cursor has reached `height`. */
  private def awaitCursor(root: String, height: Long, q: StreamingQuery): Boolean = {
    val f = Paths.get(root, "ingest_state", s"state-${height}_1")
    val t0 = System.nanoTime()
    while (!Files.exists(f)) {
      if (!q.isActive || System.nanoTime() - t0 > maxWaitNs) return false
      Thread.sleep(1)
    }
    true
  }

  private def walk(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def run(): Unit = {
    // set-up: session start, chain served, first block followed
    val root = s"$work/store"
    spark = startSession()
    val server = loadServer()
    server.reveal(1)
    val query = Follower.start(spark, server.url, root, EtlMode.Full,
      trigger = Trigger.ProcessingTime(triggerMs),
      checkpoint = Some(s"$work/checkpoint"))
    require(awaitCursor(root, 1, query),
      s"follower did not commit its first block: ${query.exception}")
    setupDone()
    attachTracing()
    if (traced) spark.streams.addListener(streams)
    server.heightCalls.set(0); server.blockCalls.set(0); server.txnCalls.set(0)

    val sink = new ExactlyOnceSink(spark, root)
    val batchOut = res.putArray("batches")
    val readOut = res.putArray("reads")
    val readFiles = ArrayBuffer.empty[Long]

    def read(tip: Long, kind: String, window: Int): Unit = {
      val id = -(readOut.size + 1)
      val r = readOut.addObject()
      r.put("kind", kind); r.put("window", window)
      val r0 = System.nanoTime()
      setPhase(Some(id), Some("read"))
      try {
        val df = kind match {
          case "gateway_window" =>
            sink.rewardsTable().filter(col("block") > tip - window)
              .groupBy(col("gateway"))
              .agg(sum(col("amount")).as("total"), count(lit(1)).as("n"))
          case "type_counts" =>
            sink.transactionsTable().filter(col("block") > tip - window)
              .groupBy(col("type")).agg(count(lit(1)).as("n"))
        }
        r.put("rows", df.collect().length)
        r.put("ok", true)
        readFiles += PlanWalk.filesRead(df.queryExecution.executedPlan)
      } catch {
        case e: Throwable =>
          r.put("ok", false)
          r.put("error", errorText(e))
      } finally setPhase(None, None)
      val r1 = System.nanoTime()
      r.put("latency_s", (r1 - r0) / 1e9)
      if (traced) spans.add(0, id, "store.read", r0, r1)
    }

    /** Reveal batch `i`, wait for its cursor, then run its reads. */
    def batch(i: Int): Boolean = {
      val tip = server.revealed + batches(i)
      require(tip <= server.maxHeight, "the generated chain is too short")
      val t0 = System.nanoTime()
      server.reveal(tip)
      val ok = awaitCursor(root, tip, query)
      val t1 = System.nanoTime()
      if (traced) spans.add(0, i + 1, "batch", t0, t1)
      val b = batchOut.addObject()
      b.put("size", batches(i)); b.put("tip", tip)
      b.put("latency_s", (t1 - t0) / 1e9); b.put("ok", ok)
      if (ok) reads(i).foreach { case (kind, window) => read(tip, kind, window) }
      else b.put("error", s"cursor did not reach $tip: ${query.exception}")
      ok
    }

    // whole cycles of the schedule while they fit in the run length
    val gc0 = Host.gcMs
    val loop0 = System.nanoTime()
    var cycles, done = 0
    var failed = false
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (!failed && (cycles + 1) * cycle <= batches.size &&
        (cycles == 0 || seconds - elapsed >= elapsed / cycles)) {
      (0 until cycle).foreach { k =>
        if (!failed) { failed = !batch(cycles * cycle + k); done += 1 }
      }
      cycles += 1
    }
    res.put("cycles_run", cycles)
    val loopNs = System.nanoTime() - loop0
    val gcMs = Host.gcMs - gc0
    loopDone()
    res.put("loop_wall_s", loopNs / 1e9)
    val committed = server.revealed
    val nodeCalls = (server.heightCalls.get, server.blockCalls.get, server.txnCalls.get)
    query.stop()

    // final state of the store, read outside the measured loop
    val fin = res.putObject("final")
    fin.put("tip", committed)
    fin.put("cursor", new StateStore(spark, root).load().map(_.height).getOrElse(-1L))
    val rw = sink.rewardsTable().agg(count(lit(1)), sum(col("amount"))).head()
    fin.put("reward_rows", rw.getLong(0))
    fin.put("reward_amount", if (rw.isNullAt(1)) "0" else rw.get(1).toString)
    fin.put("txn_rows", sink.transactionsTable().count())
    val files = walk(root)
    val partDirs = Seq("rewards", "transactions").flatMap { t =>
      val d = new File(root, t)
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("batch_id="))
    }
    fin.put("partitions", partDirs.size)
    fin.put("unmarked", partDirs.count(d => !new File(d, "_COMMITTED").exists()))
    val sinkBytes = files.map(Files.size).sum
    val inputBytes = server.inputBytes(committed)
    fin.put("sink_bytes", sinkBytes)
    fin.put("input_bytes", inputBytes)

    if (traced) {
      ListenerBusDrain(spark.sparkContext)
      val layers = res.putObject("layers")
      val ok = (0 until done).filter(k => batchOut.get(k).get("ok").asBoolean)
      val n = ok.size
      val blocks = ok.map(batches).sum
      def per(x: Double, d: Int) = if (d == 0) 0.0 else x / d
      val jobs = loopJobs(spans.ms(loop0), spans.ms(loop0 + loopNs))
      Seq("queries.build_s", "queries.build_jobs", "catalyst.plan_s", "exec.wall_s",
        "Pinned.leaked_rdds", "catalog.leaked_temp_views", "self.queries.build_s",
        "self.catalyst.plan_s", "self.exec.jobs_s", "self.exec.driver_s")
        .foreach(layers.put(_, 0.0))
      jobLayers(layers, jobs, n, loopNs / 1e6)
      layers.put("jvm.gc_s", per(gcMs / 1000.0, n))
      layers.put("node.block_calls_per_block", per(nodeCalls._2, blocks))
      layers.put("node.txn_calls_per_block", per(nodeCalls._3, blocks))
      layers.put("node.height_calls_per_batch", per(nodeCalls._1, n))
      val sb = streams.batches.asScala.toSeq
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          layers.put(s"stream.${k}_ms", per(sb.map(_.getOrElse(k, 0L)).sum, sb.size))
        }
      val streamJobs = jobs.filter(_.batch.isDefined)
      val streamBatches = streamJobs.flatMap(_.batch).distinct.size
      layers.put("follower.jobs_per_batch", per(streamJobs.size, streamBatches))
      layers.put("follower.tasks_per_batch", per(
        streamJobs.flatMap(events.executedStagesOf).map(_.tasks).sum, streamBatches))
      layers.put("sink.bytes_written", sinkBytes.toDouble)
      layers.put("sink.files_written", files.count(_.toString.endsWith(".parquet")).toDouble)
      layers.put("sink.partitions", partDirs.size.toDouble)
      layers.put("sink.bytes_per_input_byte", sinkBytes.toDouble / inputBytes)
      val readJobs = jobs.filter(_.phase.contains("read"))
      layers.put("store.read_files", per(readFiles.sum, readFiles.size))
      layers.put("store.read_bytes", per(
        readJobs.flatMap(events.executedStagesOf).map(_.inputBytes).sum, readFiles.size))
      writeSpans()
    }
    server.stop()
    spark.stop()
  }
}

/** Files read by the scans of an executed plan (adaptive stages included). */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  def filesRead(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
