package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener}

/** The config/lifecycle layer — riemann's "DDL path" (SURVEY §3.3):
  * a config assembles named stream topologies; `applyConfig` starts
  * them; a reload diffs old vs new and only restarts what changed —
  * the analog of `core/transition!`'s `equiv?` service reuse
  * (reference src/riemann/core.clj:105-161, config.clj:349-355).
  * Unlike the reference, unchanged queries keep their checkpointed
  * state across reloads (the limitation riemann documents in
  * src/riemann/streams/pure.clj:1-30).
  */
class Core(spark: SparkSession) {

  // local checkpoint metadata writes through Hadoop's FileContext cost
  // ~50 ms EACH (three-plus per micro-batch: offset WAL, commit log,
  // file-source log) and were the measured majority of the fan-out
  // hop's latency — serve file: checkpoints with java.nio instead
  // (graft.streaming.LocalCheckpointFileManager; remote schemes
  // delegate to stock). Session-scoped and only a DEFAULT: a user who
  // set their own manager keeps it.
  graft.streaming.LocalCheckpointFileManager.useByDefault(spark)

  /** A named topology: `signature` is the config's own version stamp —
    * two defs with equal (name, signature) are `equiv?` and survive a
    * reload without restart. */
  case class StreamDef(name: String, signature: String,
      build: () => DataStreamWriter[_])

  private val pending = mutable.LinkedHashMap[String, StreamDef]()
  private val active = mutable.LinkedHashMap[String, (StreamDef, StreamingQuery)]()

  /** Register (or replace) a stream definition in the next config. */
  def stream(name: String, signature: String = "")(
      build: => DataStreamWriter[_]): this.type = {
    pending += name -> StreamDef(name, signature, () => build)
    this
  }

  /** Drop a stream from the next config — the next `applyConfig` stops
    * its running query (the `transition!` removal path). */
  def removeStream(name: String): this.type = {
    pending -= name
    this
  }

  /** `apply!`/`transition!`: stop active queries that were removed or
    * whose signature changed, start new/changed ones, leave `equiv?`
    * ones running. Every new or changed stream's writer is built before
    * anything stops, so a definition that fails to build throws with
    * the old topology still running; `onBuilt` runs once every writer
    * is built, before the first stop. Returns the names (re)started. */
  def applyConfig(onBuilt: () => Unit = () => ()): Seq[String] = synchronized {
    // a terminated (crashed) query is never equiv — reuse would leave
    // it dead with no way to restart it
    def equiv(name: String, d: StreamDef): Boolean = active.get(name)
      .exists { case (old, q) => old.signature == d.signature && q.isActive }
    val writers = pending.toSeq.collect { case (name, d) if !equiv(name, d) =>
      (name, d, d.build()) }
    onBuilt()
    val replaced = writers.map(_._1).toSet
    for ((name, (_, q)) <- active.toSeq
        if replaced(name) || !pending.contains(name)) {
      q.stop(); active -= name
    }
    for ((name, d, w) <- writers) {
      active += name -> (d, w.queryName(name).start())
    }
    writers.map(_._1)
  }

  def activeQueries: Map[String, StreamingQuery] =
    synchronized(active.view.mapValues(_._2).toMap)

  /** Drain every active query — the deterministic test/await hook.
    * Two passes: a fan-out tee ([[graft.config.ConfigFile.Loader]])
    * appends to its subscribers' buffers during the first pass, so a
    * single pass over an arbitrary iteration order could leave a
    * subscriber unaware of data its tee just handed over.
    * Topologies are one hop deep (source → tee → subscriber; a
    * subscriber's sink is never a config source), so two passes drain
    * everything available at call time. */
  def processAllAvailable(): Unit = {
    val qs = synchronized(active.values.map(_._2).toSeq)
    for (_ <- 1 to 2; q <- qs if q.isActive) q.processAllAvailable()
  }

  def stop(): Unit = synchronized {
    active.values.foreach(_._2.stop()); active.clear()
  }
}

/** Stream instrumentation (reference src/riemann/instrumentation.clj:
  * 50-74: rate + latency quantiles per stream): a
  * StreamingQueryListener tracking rows/s and micro-batch duration
  * quantiles per query. */
class Instrumentation extends StreamingQueryListener {
  private val durations =
    new java.util.concurrent.ConcurrentHashMap[String, mutable.ArrayDeque[Long]]()
  private val rates =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val names =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    // evict the dead query's series — otherwise ad-hoc query churn
    // (fresh UUID per run) leaks driver memory across reloads
    Option(names.remove(e.id)).foreach { name =>
      durations.remove(name); rates.remove(name)
    }
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
    names.put(e.progress.id, name)
    val ds = durations.computeIfAbsent(name, _ => mutable.ArrayDeque[Long]())
    ds.synchronized {
      ds.append(e.progress.batchDuration)
      if (ds.length > 1000) ds.removeHead()
    }
    rates.put(name, e.progress.processedRowsPerSecond)
  }

  /** (rows/s, batch-duration quantiles 0.5/0.95/0.99 in ms) per query. */
  def snapshot: Map[String, (Double, Map[Double, Long])] = {
    import scala.jdk.CollectionConverters._
    durations.asScala.map { case (name, ds) =>
      val sorted = ds.synchronized(ds.toIndexedSeq.sorted)
      val qs = Seq(0.5, 0.95, 0.99).map { p =>
        // nearest-rank: ceil(n·p)-th order statistic (floor overshoots
        // by one rank and reports the max as the median for n=2)
        p -> (if (sorted.isEmpty) 0L
        else sorted(math.min(
          math.max(math.ceil(sorted.size * p).toInt - 1, 0),
          sorted.size - 1)))
      }.toMap
      name -> (rates.getOrDefault(name, 0.0), qs)
    }.toMap
  }
}

object Core {
  /** The Spark conf key [[Core]] defaults to
    * [[graft.streaming.LocalCheckpointFileManager]] when unset. */
  val CheckpointFileManagerKey =
    graft.streaming.LocalCheckpointFileManager.ConfKey
}
