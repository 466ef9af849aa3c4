package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{EntryPipeline, EntryStreams, SparkEntry}

/** The batch workload's process under test: a `local[nproc]`
  * session configured like `graft.Bench`, then passes over the listed
  * `SparkEntry.queries` entries in name order. Each result is
  * materialized through `graft.Bench`'s `xxhash64`/`bit_xor` checksum,
  * with a row count in the same aggregate.
  *
  * Warm-up is `graft.Bench`'s (touch the inputs, run `q_where`) plus
  * [[WarmupPasses]] full passes. Then timed passes are offered on a fixed
  * schedule, one pass per [[PassPeriodS]] seconds over the measured
  * seconds, its queries due at even steps through the pass's period. A
  * slower build falls behind the schedule instead of running fewer
  * passes, while a short stall (another process taking the cores) is
  * absorbed by the slack of the following queries.
  *
  * `batch <data dir> <out.json> <trace 0|1> <seconds> <q1,q2,...>`.
  * Prints `PERFBENCH {"ready":…}` after warm-up and
  * `PERFBENCH {"done":…}` at the end, then waits for `stop` on stdin
  * (so the caller can read the process's peak RSS). */
object BatchMain {

  val WarmupPasses = 3
  /** One timed pass is offered every this many seconds. */
  val PassPeriodS = 5

  /** Counts jobs, stages, tasks and task metrics (traced runs only). */
  final class Counter extends SparkListener {
    var jobs, stages, tasks, taskMs, shuffleBytes, spillBytes, gcMs = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
      }
    }
    def snapshot: Map[String, Long] = synchronized(Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_ms" -> taskMs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "gc_ms" -> gcMs))
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, out, trace, seconds, names) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.query.RiemannExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = if (trace == "1") {
      val c = new Counter; spark.sparkContext.addSparkListener(c); Some(c)
    } else None

    def checksum(df: DataFrame): DataFrame =
      df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n"))

    val streamsKeys = EntryStreams.queries.keySet
    val pipelineKeys = EntryPipeline.queries.keySet
    val order = names.split(",").toSeq.sorted

    def runOne(name: String): JObject = {
      val before = counter.map(_.snapshot)
      val t0 = System.nanoTime()
      var t1 = t0
      val fields = try {
        val df = SparkEntry.queries(name)(spark, dir)
        t1 = System.nanoTime()
        val m = checksum(df)
        val row = m.collect().head
        val phases = m.queryExecution.tracker.phases
        def ph(k: String) = phases.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
        List("rows" -> JLong(row.getLong(1)),
          "checksum" -> JString(if (row.isNullAt(0)) "null" else row.getLong(0).toString),
          "analysis_s" -> JDouble(ph("analysis")), "optimization_s" -> JDouble(ph("optimization")),
          "planning_s" -> JDouble(ph("planning")))
      } catch {
        case NonFatal(e) => List("error" -> JString(String.valueOf(e.getMessage)))
      }
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      val counts = (for (b <- before; a <- counter.map(_.snapshot))
        yield a.map { case (k, v) => k -> JLong(v - b(k)) }.toList).getOrElse(Nil)
      val module = if (streamsKeys(name)) "streams" else if (pipelineKeys(name)) "pipeline" else "other"
      JObject(List("name" -> JString(name), "module" -> JString(module),
        "construct_s" -> JDouble((t1 - t0) / 1e9), "execute_s" -> JDouble((t2 - t1) / 1e9),
        "total_s" -> JDouble((t2 - t0) / 1e9), "end_ms" -> JLong(System.currentTimeMillis()))
        ++ fields ++ counts)
    }

    // warm-up, as graft.Bench (touch the inputs, run one small query),
    // then untimed passes, which take the steepest part of the fall in
    // per-query times (JIT, codegen caches) out of the timed ones
    Seq("events", "documents", "embeddings", "lineitem").foreach { t =>
      try spark.read.parquet(s"$dir/$t.parquet").count()
      catch { case NonFatal(_) => () }
    }
    checksum(SparkEntry.queries("q_where")(spark, dir)).collect()
    val warm = (1 to WarmupPasses).flatMap(_ => order.map(runOne))
    println("PERFBENCH {\"ready\":true}")

    // open loop: query n of the timed run (pass n / q, position n % q in
    // name order) is due at start + n * PassPeriodS / q, and starts when
    // due or when the previous query ends, whichever is later
    val start = System.nanoTime()
    val stepNs = PassPeriodS * 1000000000L / order.size
    val passes = (0 until math.max(1, seconds.toInt / PassPeriodS)).map { i =>
      order.zipWithIndex.map { case (name, j) =>
        Runner.sleepUntil(start + (i * order.size + j) * stepNs)
        runOne(name)
      }
    }
    Files.writeString(Paths.get(out), JsonMethods.compact(JsonMethods.render(JObject(
      "finish_s" -> JDouble((System.nanoTime() - start) / 1e9),
      "warmup" -> JArray(warm.toList),
      "passes" -> JArray(passes.toList.map(p => JArray(p.toList))),
      "cores" -> JInt(cpus),
      "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0)))))
    println("PERFBENCH {\"done\":true}")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "stop") line = in.readLine()
    Runtime.getRuntime.halt(0)
  }
}

/** Runner side of `batch_suite`. The query set and the row count each
  * query returned on the seed come from `batch_suite.json` beside the
  * benchmark; a query that throws or returns another row count, in the
  * warm-up pass or any timed pass, fails. */
object BatchRun {
  private implicit val formats: Formats = DefaultFormats

  def run(ctx: Runner.Ctx): Unit = {
    val suite = JsonMethods.parse(Files.readString(Paths.get("perfbench/batch_suite.json")))
    val dir = (suite \ "data").extract[String]
    val expected = (suite \ "rows").extract[Map[String, Long]]
    val seedChecksums = (suite \ "checksums").extract[Map[String, String]]
    val out = ctx.runDir.toAbsolutePath.resolve("batch.json")
    val child = new Runner.Child(ctx.child ++ Seq("graft.perfbench.BatchMain", dir, out.toString,
      if (ctx.trace) "1" else "0", ctx.seconds.toString, expected.keys.toSeq.sorted.mkString(",")),
      ctx.runDir.resolve("server.log"))
    val (setupS, res, rssMb) = try {
      child.await("ready", 120)
      val setup = (System.nanoTime() - child.launchedNs) / 1e9
      child.await("done", 120)
      val rss = child.peakRssMb()
      child.stop()
      (setup, JsonMethods.parse(Files.readString(out)), rss)
    } finally child.stop()

    val passes = (res \ "passes").children.map(_.children)
    ((res \ "warmup").children +: passes).flatten.foreach { q =>
      val name = (q \ "name").extract[String]
      ctx.ops.incrementAndGet()
      (q \ "error", q \ "rows") match {
        case (JString(err), _) =>
          ctx.fail("query_error"); System.err.println(s"[perfbench] $name failed: $err")
        case (_, JInt(n)) if n.toLong != expected(name) =>
          ctx.fail("row_count"); System.err.println(s"[perfbench] $name: $n rows, seed had ${expected(name)}")
        case _ => ()
      }
    }
    val all = passes.flatten
    def secs(qs: Seq[JValue]) = qs.map(q => (q \ "total_s").extract[Double])
    val passTotals = passes.map(p => secs(p).sum)
    val e2e = Map("setup_s" -> (setupS, "s"), "finish_s" -> ((res \ "finish_s").extract[Double], "s"))
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (ctx.trace) {
      // each query's best time over the timed passes, as graft.Bench keeps
      // its per-query minimum
      val best = all.groupBy(q => (q \ "name").extract[String]).values.map(qs => secs(qs).min)
      layer("batch.best_pass_s") = (best.sum, "s")
      layer("visible_ms_p50") = (Stats.percentile(secs(all).map(_ * 1000), 50).getOrElse(0.0), "ms")
      // per-pass figures: sums over the timed passes divided by their count
      val n = passes.size.toDouble
      def perPass(k: String, qs: Seq[JValue] = all) =
        qs.map(q => (q \ k).extractOpt[Double].getOrElse(0.0)).sum / n
      for (k <- Seq("construct_s", "analysis_s", "optimization_s", "planning_s", "execute_s"))
        layer(s"batch.$k") = (perPass(k), "s")
      layer("batch.jobs") = (perPass("jobs"), "count")
      layer("batch.stages") = (perPass("stages"), "count")
      layer("batch.tasks") = (perPass("tasks"), "count")
      layer("batch.busy_frac") = (perPass("task_ms") / 1000 /
        (passTotals.sum / n * (res \ "cores").extract[Int]), "ratio")
      layer("batch.shuffle_mb") = (perPass("shuffle_bytes") / 1048576, "MB")
      layer("batch.spill_mb") = (perPass("spill_bytes") / 1048576, "MB")
      layer("batch.gc_s") = (perPass("gc_ms") / 1000, "s")
      for (m <- Seq("streams", "pipeline"))
        layer(s"batch.${m}_s") = (perPass("total_s",
          all.filter(q => (q \ "module").extract[String] == m)), "s")
      layer("batch.geomean_s") = (Stats.geomean(secs(all)).getOrElse(0.0), "s")
      layer("jvm.heap_max_mb") = ((res \ "heap_max_mb").extract[Double], "MB")
      layer("jvm.peak_rss_mb") = (rssMb, "MB")
      writeSpans(ctx, passes)
    }
    Trace.finishWithOverhead(ctx, e2e, layer.toMap, Set.empty, Map(
      "queries" -> JInt(expected.size), "passes" -> JInt(passes.size), "data" -> JString(dir),
      "heap" -> JString(ctx.child.filter(_.startsWith("-Xm")).mkString(" ")),
      "peak_rss_mb" -> JDouble(rssMb),
      "pass_s" -> JArray(passTotals.toList.map(JDouble(_))),
      "warmup_s" -> JDouble(secs((res \ "warmup").children).sum),
      // information only: a checksum may move with float summation order
      "checksums_unlike_seed" -> JArray(all.filter(q => (q \ "checksum").extractOpt[String]
          .exists(_ != seedChecksums((q \ "name").extract[String])))
        .map(q => q \ "name").distinct.toList)))
  }

  /** spans.jsonl: pass → query → construct / execute. */
  private def writeSpans(ctx: Runner.Ctx, passes: Seq[Seq[JValue]]): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    var id = 0
    def span(name: String, s: Double, e: Double, parent: Int): Int = {
      id += 1
      lines += s"""{"id":$id,"name":"$name","start_ms":$s,"end_ms":$e,"parent":$parent}"""
      id
    }
    def end(q: JValue) = (q \ "end_ms").extract[Double]
    def total(q: JValue) = (q \ "total_s").extract[Double] * 1000
    passes.zipWithIndex.foreach { case (qs, i) =>
      val p = span(s"pass:$i", end(qs.head) - total(qs.head), end(qs.last), 0)
      qs.foreach { q =>
        val (e, t) = (end(q), total(q))
        val c = (q \ "construct_s").extract[Double] * 1000
        val qid = span(s"query:${(q \ "name").extract[String]}", e - t, e, p)
        span("construct", e - t, e - t + c, qid)
        span("execute", e - t + c, e, qid)
      }
    }
    Files.write(ctx.runDir.resolve("spans.jsonl"), java.util.Arrays.asList(lines.toSeq: _*))
  }
}
