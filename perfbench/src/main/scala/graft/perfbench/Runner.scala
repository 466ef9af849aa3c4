package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

import Wire.Ev

/** One benchmark run of one workload: launches the process under test,
  * drives it, checks its outputs, and prints the run record and then
  * the result line (`correct`, `attempted`, `failed`, `metrics`).
  *
  * `runner <workload> <seed> <seconds> <trace 0|1> <run dir> <child.json>`
  * where child.json holds the java command prefix (heap, module
  * opens, classpath) for the child process. */
object Runner {

  /** Load offered before the measured seconds and left out of their
    * timings, so the first triggers after set-up (JIT, timer-only
    * batches) do not land in the measured window. */
  val WarmupS = 5

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDirS, childS) = args
    val runDir = Paths.get(runDirS)
    Files.createDirectories(runDir)
    val child = JsonMethods.parse(Files.readString(Paths.get(childS)))
      .asInstanceOf[JArray].arr.map { case JString(s) => s; case o => o.toString }
    val ctx = new Ctx(workload, seedS.toLong, secondsS.toInt, traceS == "1", runDir, child)
    val code = try {
      workload match {
        case "steady_index" => new StreamRun(ctx).run()
        case "batch_suite" => BatchRun.run(ctx)
        case _ => throw new IllegalArgumentException(s"unknown workload '$workload'")
      }
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Per-run context: arguments, failure counts, the run record. */
  final class Ctx(val workload: String, val seed: Long, val seconds: Int,
      val trace: Boolean, val runDir: Path, val child: List[String]) {
    val ops = new AtomicLong()
    val failed = new AtomicLong()
    val failures = new ConcurrentHashMap[String, AtomicLong]()
    val loadStart: Double = loadavg()

    def fail(kind: String, n: Long = 1): Unit = {
      failed.addAndGet(n)
      failures.computeIfAbsent(kind, _ => new AtomicLong()).addAndGet(n); ()
    }

    def loadavg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    /** Prints the run record (also written to the run directory) and
      * then the result line, which must be the last line of stdout. */
    def finish(endToEnd: Map[String, (Double, String)],
        perLayer: Map[String, (Double, String)], record: Map[String, JValue]): Unit = {
      val metrics = if (trace) perLayer else endToEnd
      val rec = JObject((record ++ Map(
        "workload" -> JString(workload), "seed" -> JLong(seed),
        "seconds" -> JInt(seconds), "trace" -> JBool(trace),
        "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
        "loadavg_start" -> JDouble(loadStart), "loadavg_end" -> JDouble(loadavg()),
        "runner_jvm" -> JString(System.getProperty("java.vm.name") + " " +
          System.getProperty("java.version")),
        "commit" -> JString(sys.props.getOrElse("perfbench.commit", "none")),
        "source_sha1" -> JString(sys.props.getOrElse("perfbench.source_sha1", "")),
        // GRAFT_* variables of the caller, kept away from the process under test
        "dropped_env" -> JArray(sys.props.getOrElse("perfbench.dropped_env", "")
          .split(",").toList.filter(_.nonEmpty).map(JString(_))),
        "jvm_options" -> JArray(child.takeWhile(_ != "-cp").drop(1).map(JString(_))),
        "failures" -> JObject(failures.asScala.toList.map { case (k, v) => k -> JLong(v.get) }),
        "end_to_end" -> metricsJson(endToEnd),
        "per_layer" -> metricsJson(perLayer))).toList.sortBy(_._1))
      val recLine = JsonMethods.compact(JsonMethods.render(rec))
      Files.writeString(runDir.resolve("record.json"), recLine + "\n")
      println("RUN " + recLine)
      val out = JObject(
        "correct" -> JBool(failed.get == 0),
        "attempted" -> JLong(math.max(1L, ops.get)),
        "failed" -> JLong(failed.get),
        "metrics" -> metricsJson(metrics))
      println(JsonMethods.compact(JsonMethods.render(out)))
    }
  }

  def metricsJson(m: Map[String, (Double, String)]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, (v, u)) =>
      k -> JObject("value" -> JDouble(v), "unit" -> JString(u)) })

  // ----------------------------------------------------------- child process

  /** The process under test, with its stdout `PERFBENCH` lines queued
    * and its stderr in the run directory. */
  final class Child(cmd: Seq[String], log: Path) {
    val launchedNs: Long = System.nanoTime()
    private val pb = new ProcessBuilder(cmd.asJava)
      .redirectError(log.toFile).redirectOutput(ProcessBuilder.Redirect.PIPE)
    val proc: Process = pb.start()
    private val hook = new Thread(() => proc.destroyForcibly(): Unit)
    Runtime.getRuntime.addShutdownHook(hook)
    val lines = new LinkedBlockingQueue[JValue]()
    private val reader = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      var l = in.readLine()
      while (l != null) {
        if (l.startsWith("PERFBENCH ")) lines.put(JsonMethods.parse(l.stripPrefix("PERFBENCH ")))
        l = in.readLine()
      }
    })
    reader.setDaemon(true); reader.start()
    private val stdin = new java.io.PrintWriter(proc.getOutputStream, true)

    def send(cmd: String): Unit = stdin.println(cmd)

    def await(key: String, timeoutS: Long): JValue = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (System.nanoTime() < deadline) {
        val v = lines.poll(200, TimeUnit.MILLISECONDS)
        if (v != null && (v \ key) != JNothing) return v
        if (v == null && !proc.isAlive)
          throw new IllegalStateException(s"process under test exited (${proc.exitValue}); see $log")
      }
      throw new IllegalStateException(s"no '$key' from the process under test in ${timeoutS}s")
    }

    /** High-water resident set of the process, from /proc (0 if absent). */
    def peakRssMb(): Double =
      try Files.readAllLines(Paths.get(s"/proc/${proc.pid}/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      catch { case NonFatal(_) => 0.0 }

    def stop(): Unit = {
      try { send("stop"); proc.waitFor(30, TimeUnit.SECONDS) } catch { case NonFatal(_) => () }
      if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor(10, TimeUnit.SECONDS) }
      try Runtime.getRuntime.removeShutdownHook(hook) catch { case NonFatal(_) => () }
    }
  }

  /** Parks until the due time; no spinning, so the generator's threads
    * leave the cores to the process under test. */
  def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(d)
      d = ns - System.nanoTime()
    }
  }

  def ms(ns: Long): Double = ns / 1e6

  /** p-th percentile (per [[Stats.percentile]]) as a metric, or 0 with
    * the name recorded as unsupported when the samples do not carry it. */
  def pct(out: mutable.Map[String, (Double, String)], unsupported: mutable.Set[String],
      name: String, samples: Seq[Double], p: Double, unit: String): Unit =
    Stats.percentile(samples, p) match {
      case Some(v) => out(name) = (v, unit)
      case None => out(name) = (0.0, unit); unsupported += name
    }
}

/** The `steady_index` workload against `graft.Main.start`. */
final class StreamRun(ctx: Runner.Ctx) {
  import Runner._

  // offered load: events/s in messages of MsgEvents events, one marker
  // per message; StaticKeys preloaded keys; QueryRate wire queries/s
  private val Rate = 10000
  private val MsgEvents = 100
  private val StaticKeys = 5000
  private val QueryRate = 200

  private val host = "127.0.0.1"
  private val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
  private val gen = new Gen(ctx.seed, dynHosts = 1000, dynServices = 10)
  private val model = new Gen.Model
  private val ack = new Stats.Series
  private val genLag = new Stats.Series
  private val visible = new Stats.Series
  private val queryAll = new Stats.Series
  private val queryBy = Gen.QClasses.map(c => c -> new Stats.Series).toMap
  private val replyEvents = new Stats.Series
  // marker key → (seq, due ns) pending visibility, in seq order
  private val pending = (0 until Gen.MarkerKeys).map(_ => new java.util.concurrent.ConcurrentLinkedDeque[(Long, Long)]()).toVector
  private val lastVisibleNs = new AtomicLong()
  private val ackEpochMs = new Stats.Series
  // generator spans (name, start, end in epoch ms), kept in traced runs
  private val genSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def epochMs(ns: Long): Double = epochOffsetMs + ns / 1e6
  private def span(name: String, fromNs: Long, toNs: Long): Unit =
    if (ctx.trace) { genSpans.add((name, epochMs(fromNs), epochMs(toNs))); () }
  private val stopPolling = new AtomicBoolean(false)
  // timings count only for work due from here on (set when load starts)
  @volatile private var measureFromNs = Long.MaxValue

  private def writeConfig(): Path = {
    val dir = ctx.runDir.toAbsolutePath
    def ckpt(n: String) = dir.resolve("ckpt").resolve(n).toString
    val index = s"""{"name": "index", "source": "tcp",
      "pipeline": [{"op": "index", "watermark": "30 seconds"}],
      "sink": {"kind": "index", "outputMode": "update", "checkpoint": "${ckpt("index")}"}}"""
    val cfg = s"""{"servers": {"tcp": {"host": "$host", "port": $port}},
      "streams": [$index]}"""
    val p = dir.resolve("config.json")
    Files.writeString(p, cfg)
    p
  }

  /** Sends one framed message and checks its ack (set-up path). */
  private def sendSync(c: Wire.Conn, b: Wire.Buf, events: Seq[Ev]): Unit = {
    Wire.framedMsg(b, events)
    c.sendFramed(b)
    ctx.ops.incrementAndGet()
    val (ok, _, _) = graft.sources.RiemannProtobuf.decodeReply(c.readReply())
    ackEpochMs.add(epochMs(System.nanoTime()))
    if (!ok.contains(true)) ctx.fail("ack")
    events.foreach(model.put)
  }

  private def markerLatest(c: Wire.Conn, k: Int): Option[Double] = {
    val (ok, err, evs) = c.query(s"""host = "mk-$k" and service = "marker"""")
    if (!ok.contains(true)) throw new IllegalStateException(s"marker query failed: $err")
    evs.headOption.flatMap(_.metric)
  }

  /** Polls marker keys with pending markers; a reply showing seq >= s
    * resolves every pending marker up to s on that key. */
  private def pollMarkers(c: Wire.Conn): Unit = {
    while (!stopPolling.get) {
      var any = false
      for (k <- 0 until Gen.MarkerKeys if !pending(k).isEmpty) {
        any = true
        val seen = markerLatest(c, k).getOrElse(-1.0)
        val now = System.nanoTime()
        while (!pending(k).isEmpty && pending(k).peekFirst()._1 <= seen) {
          val (_, due) = pending(k).pollFirst()
          if (due >= measureFromNs) visible.add(ms(now - due))
          span("marker_visible", due, now)
          lastVisibleNs.accumulateAndGet(now, math.max)
        }
      }
      Thread.sleep(10) // 10 ms resolution against visibility in seconds
    }
  }

  private def timeS(): Long = System.currentTimeMillis() / 1000

  def run(): Unit = {
    val cfg = writeConfig()
    val tracePath = ctx.runDir.toAbsolutePath.resolve("trace.json")
    val child = new Child(ctx.child ++ Seq("graft.perfbench.Launcher", cfg.toString,
      if (ctx.trace) tracePath.toString else "-"),
      ctx.runDir.resolve("server.log"))
    try runWith(child, tracePath)
    finally child.stop()
  }

  private def runWith(child: Child, tracePath: Path): Unit = {
    val deadline = child.launchedNs + 150L * 1000000000L
    val ingest = Wire.connect(host, port, deadline)
    val poller = Wire.connect(host, port, deadline)
    val b = new Wire.Buf()
    // ---- set-up: static range, then the first marker until visible
    val static = Gen.staticRange(ctx.seed, StaticKeys, timeS())
    static.grouped(MsgEvents).foreach(sendSync(ingest, b, _))
    var markerSeq = 0L
    sendSync(ingest, b, Seq(gen.marker(0, markerSeq, timeS())))
    while (markerLatest(poller, 0).forall(_ < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    val setupS = (System.nanoTime() - child.launchedNs) / 1e9
    if (markerLatest(poller, 0).isEmpty) { ctx.fail("setup_marker"); throw new IllegalStateException("first marker never visible") }

    // ---- load: open loop, due times fixed from the start; the first
    // WarmupS seconds are offered but not timed
    val intervalNs = (MsgEvents.toDouble / Rate * 1e9).toLong
    val nMsgs = ((WarmupS + ctx.seconds).toLong * Rate / MsgEvents).toInt
    val t0 = System.nanoTime() + 50000000L
    measureFromNs = t0 + WarmupS * 1000000000L
    val dues = new LinkedBlockingQueue[java.lang.Long]()
    val ackThread = new Thread(() => {
      var i = 0
      while (i < nMsgs) {
        val reply = try ingest.readReply() catch { case NonFatal(_) => null }
        val now = System.nanoTime()
        val due = dues.take().longValue
        if (reply == null) { ctx.fail("ack", nMsgs - i); i = nMsgs }
        else {
          val (ok, _, _) = graft.sources.RiemannProtobuf.decodeReply(reply)
          if (!ok.contains(true)) ctx.fail("ack")
          if (due >= measureFromNs) ack.add(ms(now - due))
          ackEpochMs.add(epochMs(now))
          span("message_ack", due, now)
          i += 1
        }
      }
    })
    ackThread.start()
    val pollThread = new Thread(() => try pollMarkers(poller) catch {
      case NonFatal(e) => System.err.println(s"[perfbench] marker poller: $e")
    })
    pollThread.start()
    val queryThreads = (0 until 2).map { t =>
      val th = new Thread(() => runQueries(t, static, measureFromNs, ctx.seconds * 1000000000L))
      th.start(); th
    }
    var i = 0
    while (i < nMsgs) {
      val due = t0 + i * intervalNs
      sleepUntil(due)
      genLag.add(ms(System.nanoTime() - due))
      val ts = timeS()
      markerSeq += 1
      val k = (markerSeq % Gen.MarkerKeys).toInt
      pending(k).addLast((markerSeq, due))
      val evs = (0 until MsgEvents).map(_ => gen.next(ts)) :+ gen.marker(k, markerSeq, ts)
      evs.foreach(model.put)
      Wire.framedMsg(b, evs)
      dues.put(due)
      ingest.sendFramed(b)
      ctx.ops.incrementAndGet()
      i += 1
    }
    val loadEndNs = System.nanoTime()
    ackThread.join(60000)
    queryThreads.foreach(_.join(60000))
    // ---- drain: until the last marker (sent in the last message) shows
    val drainDeadline = loadEndNs + 60L * 1000000000L
    while (pending.exists(!_.isEmpty) && System.nanoTime() < drainDeadline) Thread.sleep(5)
    stopPolling.set(true); pollThread.join(10000)
    val unresolved = pending.map(_.size).sum
    if (unresolved > 0) ctx.fail("marker_not_visible", unresolved)
    ctx.ops.addAndGet(markerSeq)
    val drainS = (lastVisibleNs.get - loadEndNs) / 1e9

    // ---- correctness: the final index against the model
    val (dumpOk, dumpErr, dump) = poller.query("true")
    ctx.ops.incrementAndGet()
    if (!dumpOk.contains(true)) { ctx.fail("dump"); System.err.println(s"[perfbench] dump: $dumpErr") }
    val got = dump.map(e => (e.host, e.service) -> e).toMap
    val mismatched = model.latest.count { case (k, e) =>
      got.get(k).forall(g => g.state != e.state || !g.metric.contains(e.metric))
    } + (got.keySet -- model.latest.keySet).size
    ctx.ops.addAndGet(model.latest.size.toLong)
    if (mismatched > 0) ctx.fail("index_mismatch", mismatched.toLong)
    ingest.close(); poller.close()

    child.send("status")
    val status = child.await("active", 30)
    val active = (status \ "active").extract[List[String]](DefaultFormats, implicitly)
    ctx.ops.incrementAndGet()
    if (!active.contains("index")) ctx.fail("inactive:index")
    val rssMb = child.peakRssMb()
    child.stop()

    // finish: start of the measured load until every sent event is visible
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "finish_s" -> ((lastVisibleNs.get - measureFromNs) / 1e9, "s"))
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val unsupported = mutable.Set.empty[String]
    if (ctx.trace) {
      layer("drain_s") = (drainS, "s")
      layer("jvm.peak_rss_mb") = (rssMb, "MB")
      pct(layer, unsupported, "visible_ms_p50", visible.values, 50, "ms")
      pct(layer, unsupported, "visible_ms_p99", visible.values, 99, "ms")
      pct(layer, unsupported, "ack_ms_p50", ack.values, 50, "ms")
      pct(layer, unsupported, "ack_ms_p99", ack.values, 99, "ms")
      pct(layer, unsupported, "query_ms_p50", queryAll.values, 50, "ms")
      pct(layer, unsupported, "query_ms_p99", queryAll.values, 99, "ms")
      pct(layer, unsupported, "sources.gen_lag_ms_p99", genLag.values, 99, "ms")
      Seq(Gen.Point -> 99.0, Gen.Scan -> 95.0, Gen.Tagged -> 95.0, Gen.Like -> 90.0).foreach {
        case (c, p) =>
          pct(layer, unsupported, s"query.${c.name}_ms_p50", queryBy(c).values, 50, "ms")
          pct(layer, unsupported, s"query.${c.name}_ms_p${p.toInt}", queryBy(c).values, p, "ms")
      }
      val re = replyEvents.values
      layer("query.reply_events_mean") = (if (re.isEmpty) 0.0 else re.sum / re.size, "count")
      layer("index.keys") = (dump.size.toDouble, "count")
      layer ++= InProc.querySpeeds(ctx.seed, static, dump)
      layer ++= Trace.streamLayers(JsonMethods.parse(Files.readString(tracePath)),
        ackEpochMs.values, ctx.runDir, genSpans.asScala.toSeq)
    }
    Trace.finishWithOverhead(ctx, e2e, layer.toMap, unsupported.toSet, Map(
      "offered_ev_per_s" -> JInt(Rate),
      "achieved_ev_per_s" -> JDouble(nMsgs.toDouble * MsgEvents / ((loadEndNs - t0) / 1e9)),
      "gen_lag_ms_p99" -> JDouble(Stats.percentile(genLag.values, 99).getOrElse(-1.0)),
      "samples" -> JObject("visible" -> JInt(visible.size), "ack" -> JInt(ack.size),
        "query" -> JInt(queryAll.size), "gen_lag" -> JInt(genLag.size)),
      "heap" -> JString(ctx.child.filter(_.startsWith("-Xm")).mkString(" ")),
      "drain_s" -> JDouble(drainS), "peak_rss_mb" -> JDouble(rssMb),
      "unresolved_markers" -> JInt(unresolved)))
  }

  /** One of the two open-loop query connections: 100 q/s each, timed
    * from the due time, every reply checked against the static model. */
  private def runQueries(t: Int, static: IndexedSeq[Ev], t0: Long, durNs: Long): Unit = {
    val c = Wire.connect(host, port, System.nanoTime() + 10000000000L)
    try {
      val qs = new Gen.Queries(ctx.seed * 31 + t, static)
      val perConn = QueryRate / 2
      val interval = 1000000000L / perConn
      val n = (durNs / interval).toInt
      var i = 0
      while (i < n) {
        val due = t0 + i * interval + t * (interval / 2)
        sleepUntil(due)
        val q = qs.next()
        val (ok, err, evs) = c.query(q.text)
        val lat = ms(System.nanoTime() - due)
        queryAll.add(lat); queryBy(q.cls).add(lat); replyEvents.add(evs.size.toDouble)
        span(s"query_reply:${q.cls.name}", due, System.nanoTime())
        ctx.ops.incrementAndGet()
        val want = static.filter(q.expect).map(e => (e.host, e.service, e.metric)).toSet
        val gotSet = evs.map(e => (e.host, e.service, e.metric.getOrElse(Double.NaN))).toSet
        if (!ok.contains(true) || want != gotSet) {
          ctx.fail(s"query_${q.cls.name}")
          if (ctx.failures.get(s"query_${q.cls.name}").get <= 3)
            System.err.println(s"[perfbench] wrong reply to ${q.text}: ok=$ok err=$err " +
              s"got ${gotSet.size} want ${want.size}")
        }
        i += 1
      }
    } finally c.close()
  }
}
