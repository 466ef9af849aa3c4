package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.JObject
import org.json4s.jackson.JsonMethods

import graft.config.ConfigFile
import graft.streaming.{SEvent, WireEvent}

/** The `Bench` subcommands that measure streaming topologies:
  * `fanout`, `static-cache` and `zone`. */
private[graft] object BenchStreams {

  /** `fanout`: the fan-out tee's own cost curve (r18 VERDICT #2): the
    * `ceiling` subcommand measures each stateful FAMILY's ceiling, but
    * never the tee hop itself. This measures, for 1 source × N ∈
    * {1, 2, 4, 8} passthrough subscribers:
    *
    *   - end-to-end THROUGHPUT: K events injected in chunks, wall time
    *     until every subscriber's sink holds all K (N = 1 is the direct
    *     path — no tee — so the N ≥ 2 rows read as "tee + N buffers vs
    *     direct");
    *   - end-to-end LATENCY: single-event probes under natural
    *     micro-batch flow (no forced drains), wall time from inject
    *     until ALL N sinks contain the event — the tee adds one collect
    *     plus one subscriber trigger of latency per hop.
    *
    * Emits one JSON line and appends it to `bench_fanout.json`. The
    * per-subscriber cost should be linear-ish in N with a fixed per-hop
    * latency tax; a superlinear slope would mean the tee
    * re-materializes per subscriber (it must not — one collect, N
    * buffers sharing its rows). For every N each query's micro-batch
    * `durationMs` breakdown goes to stderr (see [[printPhases]]).
    *
    * Env: FANOUT_BENCH_EVENTS (default 60000), FANOUT_BENCH_CHUNK
    * (6000), FANOUT_BENCH_PROBES (7), SPARK_GRAFT_CPUS.
    */
  def fanout(): Unit = {
    val total = sys.env.getOrElse("FANOUT_BENCH_EVENTS", "60000").toInt
    val chunk = sys.env.getOrElse("FANOUT_BENCH_CHUNK", "6000").toInt
    val probes = sys.env.getOrElse("FANOUT_BENCH_PROBES", "7").toInt
    val spark = LocalSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ev(i: Int) = SEvent(s"h${i % 997}", "svc", "ok",
      Some(i.toDouble), new Timestamp(1706000000000L + i), Some(60.0))

    val rows = Seq(1, 2, 4, 8).map { n =>
      val dir = Files.createTempDirectory(s"graft-fanout-bench-$n")
      val cfg = dir.resolve("c.json")
      val streams = (1 to n).map(i =>
        s"""{"name":"s$i","source":"in",
           |"pipeline":[{"op":"where","expr":"metric >= 0"}],
           |"sink":{"kind":"memory"}}""".stripMargin.replace("\n", ""))
        .mkString("[", ",", "]")
      Files.writeString(cfg, s"""{"streams":$streams}""")
      val in = MemoryStream[WireEvent]
      val core = new Core(spark)
      val loader = new ConfigFile.Loader(core, spark, cfg,
        sources0 = Map("in" -> (() => in.toDF())))
      try {
        loader.reload()
        def sinkSizes(): Seq[Int] =
          (1 to n).map(i => loader.memorySinks(s"s$i").rows.size())
        // warm-up: codegen + first micro-batch + (for n >= 2) the
        // tee's first hand-over
        in.addData(ev(0))
        core.processAllAvailable()
        val deadline0 = System.currentTimeMillis() + 60000
        while (sinkSizes().exists(_ < 1) &&
            System.currentTimeMillis() < deadline0) {
          core.processAllAvailable(); Thread.sleep(20)
        }
        require(sinkSizes().forall(_ >= 1), s"warm-up never landed (n=$n)")
        val base = sinkSizes()

        // throughput: K events, chunked injects, forced drains — wall
        // time until every sink holds base + K
        val t0 = System.nanoTime()
        var sent = 0
        while (sent < total) {
          in.addData((1 to chunk).map(i => ev(sent + i)))
          sent += chunk
          core.processAllAvailable()
        }
        val deadline1 = System.currentTimeMillis() + 120000
        while (sinkSizes().zip(base).exists { case (s, b) => s < b + total } &&
            System.currentTimeMillis() < deadline1) {
          core.processAllAvailable(); Thread.sleep(20)
        }
        val drainS = (System.nanoTime() - t0) / 1e9
        require(sinkSizes().zip(base).forall { case (s, b) => s >= b + total },
          s"throughput leg never drained (n=$n): ${sinkSizes()}")

        // latency: natural flow (the continuous micro-batch engine picks
        // the event up on its own — no processAllAvailable), spin-poll
        // until ALL n sinks carry it
        val lats = (1 to probes).map { p =>
          val before = sinkSizes()
          val t = System.nanoTime()
          in.addData(ev(1000000 + p))
          val deadline = System.currentTimeMillis() + 60000
          while (sinkSizes().zip(before).exists { case (s, b) => s <= b } &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(1)
          (System.nanoTime() - t) / 1e6
        }.sorted
        printPhases(n, core)
        val evps = total / drainS
        (n, evps, lats(lats.size / 2), lats.head)
      } finally core.stop()
    }

    val json = rows.map { case (n, evps, latP50, latMin) =>
      f"""{"subscribers":$n,"events_per_sec":$evps%.0f,""" +
        f""""latency_p50_ms":$latP50%.1f,"latency_min_ms":$latMin%.1f}"""
    }.mkString("""{"metric":"fanout","rows":[""", ",", "]}")
    println(json)
    // APPEND (r19 ADVICE): the file accumulates one JSON line per run,
    // so cross-round cost-curve comparisons keep their history instead
    // of each run truncating the prior one
    try Bench.appendLine(Paths.get("bench_fanout.json"), json)
    catch { case NonFatal(_) => () }
    spark.stop()
  }

  /** Each query's micro-batch `durationMs` breakdown (triggerExecution,
    * walCommit, addBatch, latestOffset, queryPlanning, commitOffsets),
    * median and max over its non-empty recent batches, to stderr — so
    * the tee hop's latency budget is attributable instead of guessed:
    * which phase to attack next is read off the output, not inferred
    * from end-to-end medians (r19 VERDICT #2c). */
  private def printPhases(n: Int, core: Core): Unit =
    for ((name, q) <- core.activeQueries.toSeq.sortBy(_._1)) {
      val progs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val keys = progs.flatMap(_.durationMs.keySet().asScala).distinct.sorted
      System.err.println(s"[fanout] n=$n $name (${progs.size} non-empty batches)")
      for (k <- keys) {
        val vs = progs.map(p =>
          Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sorted
        System.err.println(f"[fanout]    $k%-22s p50=${vs(vs.size / 2)}%4d ms  " +
          f"max=${vs.last}%4d ms")
      }
    }

  /** `static-cache`: isolated A/B for the r18 static-side cache
    * ([[graft.config.ConfigFile.cachedStatic]]): a streaming
    * `"op":"crosscorpus"` decontamination query processes `BATCHES`
    * micro-batches against an `NREF`-document reference corpus, once
    * with the cache and once with the raw (re-derive-per-batch) path.
    * Without the cache every micro-batch re-scans the reference parquet
    * and re-runs shingle→minhash→banding over the WHOLE corpus before
    * the join — per-trigger cost proportional to reference size, the
    * firehose scale bug the mixed-workload soak surfaced. Prints one
    * JSON line with mean per-batch seconds for both paths.
    *
    * Env: NREF (default 20000), BATCHES (10), SPARK_GRAFT_CPUS.
    */
  def staticCache(): Unit = {
    val nRef = sys.env.getOrElse("NREF", "20000").toInt
    val nBatches = sys.env.getOrElse("BATCHES", "10").toInt
    val spark = LocalSession()
    import spark.implicits._

    val dir = Files.createTempDirectory("graft-staticbench")
    val ref = dir.resolve("ref.parquet").toString
    spark.range(nRef).select(col("id").as("doc_id"),
        concat(lit("reference document body "),
          col("id").cast("string"),
          lit(" with distinct words "),
          md5(col("id").cast("string"))).as("text"))
      .write.mode("overwrite").parquet(ref)

    val opJson = JsonMethods.parse(
      s"""{"op":"crosscorpus","table":"$ref","threshold":0.5}""")
      .asInstanceOf[JObject]

    def run(cached: Boolean): Double = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF().toDF("doc_id", "text", "time")
      val out =
        if (cached) graft.config.ConfigFile.applyOp(stream, opJson)
        else {
          // the pre-r18 shape: the reference subtree re-executes in
          // every micro-batch
          val refB = graft.streaming.StreamingCrossCorpus.referenceBanded(
            spark.read.parquet(ref), 16, 4, 3,
            graft.pipeline.Caps.DefaultMaxBucket)
          graft.streaming.StreamingCrossCorpus.matches(
              stream, refB, "time", 16, 4, 3, 0.5)
            .select("new_id", "ref_id", "est_jaccard", "band")
        }
      val q = out.writeStream.format("noop")
        .option("checkpointLocation",
          dir.resolve(s"ckpt-$cached").toString)
        .start()
      try {
        // warm batch (plan + code gen + first cache materialization)
        in.addData((-1L, "warmup document", new java.sql.Timestamp(0)))
        q.processAllAvailable()
        val t0 = System.nanoTime()
        for (i <- 0 until nBatches) {
          in.addData((i.toLong, s"arriving document $i unique words",
            new java.sql.Timestamp(i * 1000L)))
          q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9 / nBatches
      } finally q.stop()
    }

    val raw = run(cached = false)
    val cached = run(cached = true)
    println(f"""{"metric":"crosscorpus_per_batch_sec","n_ref":$nRef,""" +
      f""""batches":$nBatches,"raw":$raw%.3f,"cached":$cached%.3f,""" +
      f""""speedup":${raw / cached}%.1f}""")
    spark.stop()
  }

  /** `zone`: landing-zone firehose ceiling (r19 VERDICT #4):
    * docs/config.md claims the `files` protocol is "the curation
    * firehose's production ingest shape" — this MEASURES that shape
    * instead of asserting it. It runs the curation example topology
    * end-to-end through the packaged process ([[Main.start]]): three
    * streams (quality + langid + dedup + tokens; crosscorpus
    * decontamination; minhash-LSH neardup pairs) all reading ONE
    * parquet landing zone, while a writer thread drops doc files at a
    * controlled rate honoring the documented atomic-arrival contract
    * (stage outside, fsync-free atomic rename in). Ramp: offered docs/s
    * doubles while the zone stays SUSTAINED — every stream's cumulative
    * input catches the writer within `ZONE_DRAIN_BOUND_S` of the writer
    * stopping (a growing backlog fails by definition: time-to-drain
    * measures exactly the queued seconds of data).
    *
    * Appends per-attempt rows and a summary to `SOAK_OUT` (default
    * soak_state.jsonl):
    *   {"zone_ceiling": ..., "rate": R, "written": N,
    *    "e2e_docs_per_sec": ..., "drain_s": ..., "sustained": ...}
    *
    * Env: ZONE_START (2000 docs/s), ZONE_MAX (64000), ZONE_MEASURE_S
    * (30), ZONE_TICK_MS (250), ZONE_DRAIN_BOUND_S (10),
    * SPARK_GRAFT_CPUS, SOAK_OUT.
    */
  def zone(): Unit = {
    val startRate = sys.env.getOrElse("ZONE_START", "2000").toInt
    val maxRate = sys.env.getOrElse("ZONE_MAX", "64000").toInt
    val measureS = sys.env.getOrElse("ZONE_MEASURE_S", "30").toLong
    val tickMs = sys.env.getOrElse("ZONE_TICK_MS", "250").toLong
    val drainBoundS = sys.env.getOrElse("ZONE_DRAIN_BOUND_S", "10").toLong
    val out = Paths.get(sys.env.getOrElse("SOAK_OUT", "soak_state.jsonl"))

    val spark = LocalSession()
    import spark.implicits._

    val root = Files.createTempDirectory("graft-zone-bench")
    val artifacts = root.resolve("models")

    // one-time corpora: the langid training set, the BPE training set,
    // and the decontamination benchmark — same shapes the curation
    // example names under /data
    val labeled = s"$root/labeled.parquet"
    ((0 until 60).map(i => (i.toLong,
      s"alpha bravo charlie delta echo foxtrot golf hotel item $i", "aa")) ++
      (0 until 60).map(i => (100L + i,
        s"zulu yankee xray whiskey victor uniform tango sierra $i", "zz")))
      .toDF("doc_id", "text", "lang").write.parquet(labeled)
    val bpeTrain = s"$root/bpe.parquet"
    (0 until 200).map(i => (i.toLong,
      s"the quick brown fox jumps over the lazy dog number $i and " +
        "packs boxes with liquor jugs"))
      .toDF("doc_id", "text").write.parquet(bpeTrain)
    val benchmark = s"$root/benchmark.parquet"
    (0 until 50).map(i => (i.toLong,
      s"benchmark eval question $i with canonical answer text that " +
        "must never leak into training"))
      .toDF("doc_id", "text").write.parquet(benchmark)

    def docText(id: Long): String =
      s"rotating base document ${id % 4000} body with a shared " +
        "verbatim span of boilerplate words that the near duplicate " +
        "detector banding keys on while the tail varies " +
        s"variant ${id % 7} tail token alpha beta gamma delta epsilon " +
        s"zeta eta theta iota kappa lambda mu nu xi omicron pi rho " +
        s"sigma tau upsilon phi chi psi omega ${id % 13} ${id % 17}"

    /** Stage a parquet file of `rows` docs and atomically publish it
      * into `zone` — the docs/config.md producer contract. */
    def publish(zone: Path, staging: Path,
        rows: Seq[(Long, String, String, java.sql.Timestamp)]): Unit = {
      val tmp = staging.resolve(s"w${System.nanoTime()}")
      rows.toDF("doc_id", "text", "source", "time")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, zone.resolve(part.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    // cumulative input rows per query, listener-fed (recentProgress is
    // a bounded ring — a 30 s window at file-tick cadence overflows it)
    val inputRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val n = Option(e.progress.name).getOrElse(return)
        inputRows.merge(n, e.progress.numInputRows, Long.box(_) + _)
        ()
      }
    }
    spark.streams.addListener(listener)
    val queries = Seq("curation-firehose", "decontamination-feed",
      "neardup-pairs")

    var nextId = 0L
    Bench.ramp(out, """"zone_ceiling":"files-curation"""",
        "max_sustained_docs_per_sec", startRate, maxRate) { (rate, attempt) =>
      val adir = root.resolve(s"a$attempt")
      val zone = adir.resolve("zone")
      val staging = adir.resolve("staging")
      Files.createDirectories(zone)
      Files.createDirectories(staging)
      val cfg = adir.resolve("graft.json")
      Files.writeString(cfg,
        s"""{"servers": {
           |   "docs": {"protocol": "files", "path": "$zone",
           |     "format": "parquet",
           |     "schema": "doc_id BIGINT, text STRING, source STRING, time TIMESTAMP"}},
           | "streams": [
           |  {"name": "curation-firehose", "source": "docs",
           |   "pipeline": [
           |     {"op": "quality", "minWords": 20, "maxWords": 100000},
           |     {"op": "langid", "train": "$labeled",
           |      "artifact": "$artifacts/langid"},
           |     {"op": "dedup", "horizon": "6 hours"},
           |     {"op": "tokens", "train": "$bpeTrain",
           |      "artifact": "$artifacts/bpe"}],
           |   "sink": {"kind": "memory", "checkpoint": "$adir/ckpt/cur"}},
           |  {"name": "decontamination-feed", "source": "docs",
           |   "pipeline": [
           |     {"op": "crosscorpus", "table": "$benchmark",
           |      "threshold": 0.5, "mode": "match"}],
           |   "sink": {"kind": "memory", "checkpoint": "$adir/ckpt/dec"}},
           |  {"name": "neardup-pairs", "source": "docs",
           |   "pipeline": [
           |     {"op": "neardup", "horizon": 3600, "k": 16, "bands": 4,
           |      "threshold": 0.5}],
           |   "sink": {"kind": "memory", "checkpoint": "$adir/ckpt/nd"}}
           |]}""".stripMargin)

      def ts(id: Long) = new java.sql.Timestamp(1706000000000L + id)
      def mkRows(n: Int): Seq[(Long, String, String, java.sql.Timestamp)] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, docText(id), s"src-${id % 5}", ts(id))
        }

      inputRows.clear()
      val running = Main.start(cfg, Some(spark))
      try {
        // warm-up: one seed file; every stream must consume it (the
        // first attempt also trains + persists the langid/BPE models)
        publish(zone, staging, mkRows(50))
        val warmDeadline = System.currentTimeMillis() + 300000
        while (queries.exists(q => inputRows.getOrDefault(q, 0L) < 50L) &&
            System.currentTimeMillis() < warmDeadline)
          Thread.sleep(200)
        require(queries.forall(q => inputRows.getOrDefault(q, 0L) >= 50L),
          s"warm-up never landed: $inputRows")

        val base = queries.map(q => q -> inputRows.get(q)).toMap
        val perTick = math.max(1, (rate * tickMs / 1000).toInt)
        val t0 = System.nanoTime()
        var written = 0L
        val stopAt = System.currentTimeMillis() + measureS * 1000
        while (System.currentTimeMillis() < stopAt) {
          publish(zone, staging, mkRows(perTick))
          written += perTick
          // pace against the offer clock, absorbing slow publishes
          val next = System.currentTimeMillis() / tickMs * tickMs + tickMs
          val sleep = next - System.currentTimeMillis()
          if (sleep > 0) Thread.sleep(sleep)
        }
        val tStop = System.nanoTime()
        def caughtUp(): Boolean = queries.forall(q =>
          inputRows.getOrDefault(q, 0L) - base(q) >= written)
        val drainDeadline = System.currentTimeMillis() + 180000
        while (!caughtUp() &&
            System.currentTimeMillis() < drainDeadline)
          Thread.sleep(200)
        val drainS = (System.nanoTime() - tStop) / 1e9
        val e2eEps = written / ((System.nanoTime() - t0) / 1e9)
        val ok = caughtUp() && drainS <= drainBoundS
        System.err.println(f"[zone] rate=$rate written=$written " +
          f"e2e=$e2eEps%.0f docs/s drain=$drainS%.1fs sustained=$ok")
        (ok, e2eEps, s""""written":$written,""" +
          f""""e2e_docs_per_sec":$e2eEps%.0f,"drain_s":$drainS%.1f""")
      } finally {
        try running.stop()
        catch { case NonFatal(_) => () }
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
