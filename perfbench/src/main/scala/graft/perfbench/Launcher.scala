package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Main

/** The process under test: `graft.Main.start` on the bench config, with
  * the packaged defaults, plus a control channel on stdin/stdout that
  * the load generator never touches.
  *
  * Commands, one per line on stdin:
  *   - `status`: one `PERFBENCH {...}` line naming the active streaming
  *     queries;
  *   - `stop`: write the trace (traced runs) and exit at once.
  *
  * `launcher <config> <trace.json|->`. With a
  * trace path, a progress listener and a counting SparkListener record
  * every trigger, its `durationMs` phases, its state operators, and the
  * jobs and tasks each streaming query ran; they are registered right
  * after start, so the first triggers of set-up may be missed. */
object Launcher {

  def main(args: Array[String]): Unit = {
    val Array(config, tracePath) = args
    val running = Main.start(Paths.get(config))
    val tap = if (tracePath == "-") None else Some(new Tap(running))
    println("PERFBENCH {\"started\":true}")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "stop") {
      if (line == "status")
        println("PERFBENCH " + JsonMethods.compact(JsonMethods.render(status(running))))
      line = in.readLine()
    }
    tap.foreach(t => Files.writeString(Paths.get(tracePath),
      JsonMethods.compact(JsonMethods.render(t.dump()))))
    // no graceful stop: the run is over and its state is discarded
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def status(running: Main.Running): JValue =
    JObject("active" -> JArray(running.spark.streams.active.toList
      .map(q => JString(Option(q.name).getOrElse(q.id.toString)))))

  /** In-process recording for the traced run. */
  final class Tap(running: Main.Running) {
    private val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val progress = mutable.ArrayBuffer.empty[JValue]
    // job id → (query name, start ms); stage id → query name
    private val jobQuery = mutable.HashMap.empty[Int, (String, Long)]
    private val stageQuery = mutable.HashMap.empty[Int, String]
    private val jobs = mutable.ArrayBuffer.empty[JValue]
    private val taskMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    private val tasks = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    private val gcAtStart = gcMs()

    private def nameOf(id: String): String =
      Option(names.get(id)).getOrElse(id)

    running.spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        names.put(e.id.toString, Option(e.name).getOrElse(e.id.toString)); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val name = Option(p.name).getOrElse(p.id.toString)
        names.put(p.id.toString, name)
        val ops = p.stateOperators.toList.map(o => JObject(
          "rows" -> JLong(o.numRowsTotal),
          "mem" -> JLong(o.memoryUsedBytes),
          "commit_ms" -> JLong(o.commitTimeMs),
          "update_ms" -> JLong(o.allUpdatesTimeMs)))
        val v = JObject(
          "q" -> JString(name),
          "batch" -> JLong(p.batchId),
          "start_ms" -> JLong(java.time.Instant.parse(p.timestamp).toEpochMilli),
          "rows" -> JLong(p.numInputRows),
          "rows_per_s" -> JDouble(p.processedRowsPerSecond),
          "d" -> JObject(p.durationMs.asScala.toList.map { case (k, ms) => k -> JLong(ms) }),
          "state" -> JArray(ops))
        progress.synchronized { progress += v; () }
      }
    })

    running.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val qid = Option(e.properties)
          .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        qid.foreach { id =>
          jobQuery(e.jobId) = (id, e.time)
          e.stageIds.foreach(s => stageQuery(s) = id)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobQuery.remove(e.jobId).foreach { case (id, t0) =>
          jobs += JObject("q" -> JString(id), "start_ms" -> JLong(t0),
            "end_ms" -> JLong(e.time))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stageQuery.get(e.stageId).foreach { id =>
          tasks(id) += 1
          taskMs(id) += e.taskInfo.duration
        }
      }
    })

    private def gcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

    def dump(): JValue = {
      val byName = (m: mutable.Map[String, Long]) =>
        JObject(m.toList.map { case (id, v) => nameOf(id) -> JLong(v) })
      val (jobList, tasksJ, taskMsJ) = synchronized {
        (jobs.toList.map {
          case JObject(fs) => JObject(fs.map {
            case ("q", JString(id)) => "q" -> JString(nameOf(id))
            case f => f
          })
          case other => other
        }, byName(tasks), byName(taskMs))
      }
      JObject(
        "progress" -> JArray(progress.synchronized(progress.toList)),
        "jobs" -> JArray(jobList),
        "tasks" -> tasksJ,
        "task_ms" -> taskMsJ,
        "cores" -> JInt(running.spark.sparkContext.defaultParallelism),
        "gc_ms" -> JLong(gcMs() - gcAtStart),
        "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0))
    }
  }
}
