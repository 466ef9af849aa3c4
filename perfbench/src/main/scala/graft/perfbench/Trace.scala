package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Turns what the traced process under test recorded ([[Launcher.Tap]])
  * into per-layer metrics and a span file, and reports the tracing
  * overhead against the last untraced run of the same workload. */
object Trace {

  type Metrics = Map[String, (Double, String)]

  private implicit val formats: Formats = DefaultFormats

  final case class Batch(q: String, startMs: Long, rows: Long, rowsPerS: Double,
      d: Map[String, Long], stateRows: Long, stateMem: Long, commitMs: Long, updateMs: Long)

  def batches(trace: JValue): Seq[Batch] =
    (trace \ "progress").children.map { p =>
      val ops = (p \ "state").children
      def sum(k: String) = ops.map(o => (o \ k).extract[Long]).sum
      Batch((p \ "q").extract[String], (p \ "start_ms").extract[Long],
        (p \ "rows").extract[Long], (p \ "rows_per_s").extract[Double],
        (p \ "d").extract[Map[String, Long]],
        sum("rows"), sum("mem"), sum("commit_ms"), sum("update_ms"))
    }.filter(_.d.contains("addBatch")) // only triggers that ran a batch

  private def med(xs: Seq[Double]): Double = Stats.median(xs).getOrElse(0.0)

  /** Streaming layers: the index query's trigger phases, jobs, tasks and
    * state; source backlog; JVM. `ackEpochMs` are the ack times of every
    * acked frame, in order. */
  def streamLayers(trace: JValue, ackEpochMs: Seq[Double], runDir: Path,
      genSpans: Seq[(String, Double, Double)]): Metrics = {
    val bs = batches(trace)
    val cores = (trace \ "cores").extract[Int]
    val jobs = (trace \ "jobs").children.map(j =>
      ((j \ "q").extract[String], (j \ "start_ms").extract[Long], (j \ "end_ms").extract[Long]))
    val tasks = (trace \ "tasks").extract[Map[String, Long]]
    val taskMs = (trace \ "task_ms").extract[Map[String, Long]]
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val qb = bs.filter(_.q == "index")
    val n = qb.size
    def phase(k: String) = med(qb.map(_.d.getOrElse(k, 0L).toDouble))
    val triggers = qb.map(_.d("triggerExecution").toDouble)
    val p = "streaming.index"
    out(s"$p.batches") = (n.toDouble, "count")
    out(s"$p.trigger_ms_p50") = (med(triggers), "ms")
    out(s"$p.trigger_ms_max") = (if (triggers.isEmpty) 0.0 else triggers.max, "ms")
    for (k <- Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch"))
      out(s"$p.${k}_ms_p50") = (phase(k), "ms")
    val perBatch = (x: Double) => if (n == 0) 0.0 else x / n
    out(s"$p.jobs_per_batch") = (perBatch(jobs.count(_._1 == "index").toDouble), "count")
    out(s"$p.tasks_per_batch") = (perBatch(tasks.getOrElse("index", 0L).toDouble), "count")
    out(s"$p.busy_frac") = (if (triggers.isEmpty) 0.0
      else taskMs.getOrElse("index", 0L) / (triggers.sum * cores), "ratio")
    out(s"$p.state_commit_ms_p50") = (med(qb.map(_.commitMs.toDouble)), "ms")
    out(s"$p.state_update_ms_p50") = (med(qb.map(_.updateMs.toDouble)), "ms")
    out(s"$p.state_rows") = (qb.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
    out(s"$p.input_rows_per_s") = (med(qb.map(_.rowsPerS)), "1/s")
    out(s"$p.state_mem_mb") = (qb.lastOption.map(_.stateMem / 1048576.0).getOrElse(0.0), "MB")
    // source: frames are rows of the query reading the server; the
    // backlog at a trigger's start is frames acked by then minus rows
    // taken by earlier triggers
    val src = qb.sortBy(_.startMs)
    val acks = ackEpochMs.toArray.sorted
    var taken = 0L
    var backlog = 0L
    src.foreach { b =>
      val acked = java.util.Arrays.binarySearch(acks, b.startMs.toDouble + 0.5) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      backlog = math.max(backlog, acked - taken)
      taken += b.rows
    }
    out("sources.frames_acked") = (acks.length.toDouble, "count")
    out("sources.backlog_frames_max") = (backlog.toDouble, "count")
    out("sources.frames_per_batch_p50") = (med(src.filter(_.rows > 0).map(_.rows.toDouble)), "count")
    out("jvm.gc_ms") = ((trace \ "gc_ms").extract[Double], "ms")
    out("jvm.heap_max_mb") = ((trace \ "heap_max_mb").extract[Double], "MB")
    out ++= writeSpans(runDir, bs, jobs, genSpans)
    out.toMap
  }

  /** Writes spans.jsonl — trigger → its `durationMs` phases → jobs, and
    * the generator's own spans — and returns the self times. Phases
    * carry durations only (progress gives no start offsets), so they
    * are laid end to end from the trigger start. */
  private def writeSpans(runDir: Path, bs: Seq[Batch], jobs: Seq[(String, Long, Long)],
      genSpans: Seq[(String, Double, Double)]): Metrics = {
    val lines = mutable.ArrayBuffer.empty[String]
    var id = 0
    def span(name: String, s: Double, e: Double, parent: Int): Int = {
      id += 1
      lines += s"""{"id":$id,"name":"$name","start_ms":$s,"end_ms":$e,"parent":$parent}"""
      id
    }
    var triggerSelf, addBatchSelf, jobsMs = 0.0
    bs.foreach { b =>
      val trigEnd = b.startMs + b.d("triggerExecution")
      val t = span(s"trigger:${b.q}", b.startMs, trigEnd, 0)
      var at = b.startMs.toDouble
      val phases = b.d.toSeq.filter(_._1 != "triggerExecution").sortBy(_._1)
      phases.foreach { case (k, ms) =>
        val pid = span(s"phase:$k", at, at + ms, t)
        if (k == "addBatch") {
          val inside = jobs.filter(j => j._1 == b.q && j._2 >= b.startMs && j._2 <= trigEnd)
          inside.foreach(j => span("job", j._2, j._3, pid))
          val js = inside.map(j => (j._3 - j._2).toDouble).sum
          jobsMs += js
          addBatchSelf += math.max(0.0, ms - js)
        }
        at += ms
      }
      triggerSelf += math.max(0.0, b.d("triggerExecution") - phases.map(_._2).sum)
    }
    genSpans.foreach { case (n, s, e) => span(n, s, e, 0) }
    Files.write(runDir.resolve("spans.jsonl"), lines.asJava)
    Map("span.trigger_self_s" -> (triggerSelf / 1000, "s"),
      "span.addBatch_self_s" -> (addBatchSelf / 1000, "s"),
      "span.jobs_s" -> (jobsMs / 1000, "s"))
  }

  /** The last untraced run of this workload on these very sources: the
    * file is named by the source digest, so a run of other code is never
    * the baseline. */
  private def lastUntraced(ctx: Runner.Ctx): Path = {
    val sha = sys.props.getOrElse("perfbench.source_sha1", "unknown")
    ctx.runDir.toAbsolutePath.getParent.resolve(s"last-untraced-${ctx.workload}-$sha.json")
  }

  /** Adds `overhead.<m>` (traced − last untraced run of the same sources)
    * for every end-to-end metric to a traced run, remembers an untraced
    * run's figures, and prints the record and the result line. */
  def finishWithOverhead(ctx: Runner.Ctx, e2e: Metrics, layer: Metrics,
      unsupported: Set[String], record: Map[String, JValue]): Unit = {
    val last = lastUntraced(ctx)
    val withOverhead = if (!ctx.trace) {
      Files.writeString(last, JsonMethods.compact(JsonMethods.render(Runner.metricsJson(e2e))))
      layer
    } else {
      val base = if (Files.exists(last)) Some(JsonMethods.parse(Files.readString(last))) else None
      layer ++ e2e.map { case (k, (v, u)) =>
        s"overhead.$k" -> (base.map(b => v - (b \ k \ "value").extract[Double]).getOrElse(0.0), u)
      }
    }
    ctx.finish(e2e, withOverhead, record ++ Map(
      "unsupported_percentiles" -> JArray(unsupported.toList.sorted.map(JString(_))),
      "overhead_baseline" -> JBool(!ctx.trace || Files.exists(last))))
  }
}
