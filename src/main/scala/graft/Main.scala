package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.CountDownLatch

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.config.ConfigFile
import graft.sinks.{Sinks, SseServer, WsServer}
import graft.sources.Sources
import graft.streaming.{IndexStep, WireEvent}

/** The deployable process entry point — the `bin.clj` equivalent
  * (reference src/riemann/bin.clj:135-167 `-main`): load a config
  * file, start Core + servers, install the SIGHUP reload hook, block.
  *
  * Commands (mirroring bin.clj's):
  *   - `graft.Main <config.json>` / `graft.Main start <config.json>`
  *   - `graft.Main version`
  *
  * The config file is the [[ConfigFile]] surface (streams/include)
  * plus a root `servers` object. SIGHUP reloads BOTH: stream topology
  * through the transition!/equiv? lifecycle, and server blocks by
  * salting each stream's signature with its server block's canonical
  * JSON — an edited block (port, TLS) restarts exactly the streams
  * bound to it, whose source stop()/rebind closes the old socket and
  * adopts its parked frames (the reference restarts non-equiv
  * services on reload, core.clj:105-161; r16 closes that delta):
  *
  * {{{
  * { "servers": {
  *     "tcp":      {"host": "127.0.0.1", "port": 5555},
  *     "udp":      {"host": "127.0.0.1", "port": 5555},
  *     "graphite": {"host": "127.0.0.1", "port": 2003},
  *     "opentsdb": {"host": "127.0.0.1", "port": 4242},
  *     "ws":       {"port": 5556},
  *     "sse":      {"port": 5557} },
  *   "modelsKeep": {"root": "/var/lib/graft/models",
  *                  "keepPerKind": 3, "intervalSeconds": 3600},
  *   "streams": [
  *     {"name": "index", "source": "tcp",
  *      "pipeline": [{"op": "index"}],
  *      "sink": {"kind": "index", "checkpoint": "/var/lib/graft/ckpt"}}
  * ]}
  * }}}
  *
  * Ingest servers register as config sources by name (`tcp`, `udp`,
  * `graphite`, `opentsdb`); the `index` sink kind feeds the served
  * in-memory index that the ws/sse query surfaces answer from
  * (`GET /index?query=…`).
  *
  * Several streams may name the same server source — the reference's
  * core fan-out semantic (every registered stream sees every event,
  * core.clj:15-20). The [[ConfigFile.Loader]] consumes each shared
  * source with ONE tee query (one server instance, one bind) and fans
  * micro-batches out to per-stream in-memory buffers, so each stream
  * still runs as a full StreamingQuery with its own state and
  * checkpoint. The name a server block registers under doubles as its
  * source name.
  */
object Main {

  val Version = "riemann-capability engine (Spark) 0.11"

  /** The served riemann index: latest event per (host, service),
    * answering snapshot dumps and query filters for the ws/sse servers
    * and the wire handler, and pushing every change to the "index"
    * pubsub channel.
    *
    * Driver-side by design, like the reference's index — an in-memory
    * map on the serving node (index.clj:58-126 nbhm-index), bounded by
    * index cardinality, the same RAM contract the reference runs under.
    *
    * For a stream whose pipeline ends in the `index` op, this map IS
    * the index state ([[sinkFor]] with the op): no shuffle, no keyed
    * state store. Each batch runs as one Spark job over the
    * micro-batch's own plan (no second query is planned on it, and a
    * batch without input partitions runs none), reduced on the
    * executors to its latest event per key and partition, so the
    * collect is bounded by the keys the batch updated; the driver
    * merges those rows by
    * compare-and-set on [[IndexStep.latestWins]], drops late
    * rows by the feed's watermark, reaps TTL-lapsed entries once the
    * watermark advances, and logs the changed keys under the stream's
    * checkpoint so a restarted process serves them at once (see
    * [[ServedIndex.Log]]). The index step
    * ([[graft.streaming.KeyedIndex]], on the one keyed-state processor)
    * keeps the same contract for streams that do not feed this map and
    * is its parity oracle, beside [[graft.streaming.StreamingIndex]]. A
    * stream with an `index` sink and any other pipeline
    * upserts its rows as they come (`state="expired"` deletes). */
  final class ServedIndex(spark: SparkSession,
      pubsub: Sinks.Pubsub = new Sinks.Pubsub) {
    import ServedIndex._

    private val state = TrieMap[(String, String), Held]()
    // each (stream, checkpoint)'s feed progress, its map recovered from
    // the log once per process: a reload builds a stream's successor
    // before it stops the running query, so the successor must not
    // replay the log that query is still writing — it shares this
    // progress and rewinds it at its first batch ([[Feed]])
    private val progress = TrieMap[(String, Path), Progress]()

    /** The sink of an `index`-kind stream: a [[Feed]] that does the
      * `index` op's work when the pipeline's trailing op was absorbed,
      * else a plain upsert of every row. */
    def sinkFor(stream: String, spec: JObject,
        op: Option[JObject]): Sinks.EventSink = op match {
      case Some(o) =>
        val ckpt = new ConfigFile.Args(spec, s"$stream.sink").strOpt("checkpoint")
        new Feed(stream, delayMs(ConfigFile.indexWatermark(o)),
          ckpt.map(Paths.get(_)))
      case None => new WireSink {
        override def write(batch: DataFrame, batchId: Long): Unit = {
          val rows = collectWire(batch, fromRow, identity).toSeq
          rows.foreach(putTagged)
          publish(batch.sparkSession, rows, batchId)
        }
      }
    }

    /** An `index`-kind sink. Its input is the stream's output as whole
      * events ([[WireEvent.from]]), projected in the stream's own plan
      * when the query is built, so a batch runs as one job over its own
      * rows ([[collectWire]]). */
    private abstract class WireSink extends Sinks.EventSink {
      @volatile protected var fromRow: ExpressionEncoder.Deserializer[WireEvent] = _

      override def input(stream: DataFrame): DataFrame = {
        val events = WireEvent.from(stream).toDF()
        fromRow = encoderFor(Encoders.product[WireEvent])
          .resolveAndBind(events.queryExecution.analyzed.output)
          .createDeserializer()
        events
      }
    }

    /** The pushes of one batch, as a local relation Catalyst folds
      * without a job — built only when someone subscribes. */
    private def publish(session: SparkSession, rows: Seq[WireEvent],
        batchId: Long): Unit =
      if (pubsub.subscribed("index"))
        pubsub.publish("index",
          session.createDataset(rows)(Encoders.product[WireEvent]).toDF(),
          batchId)

    /** Compare-and-set `e` from `feed` into the map: the winner by
      * [[IndexStep.latestWins]], and whether `e` replaced
      * what was there. */
    @scala.annotation.tailrec
    private def merge(e: WireEvent, feed: String): (WireEvent, Boolean) = {
      val k = (e.host, e.service)
      state.get(k) match {
        case None =>
          if (state.putIfAbsent(k, Held(e, feed)).isEmpty) (e, true)
          else merge(e, feed)
        case Some(h) if IndexStep.latestWins.gt(e, h.e) =>
          if (state.replace(k, h, Held(e, feed))) (e, true)
          else merge(e, feed)
        case Some(h) => (h.e, false)
      }
    }

    /** One absorbed `index` op feeding this map: the stream `name`,
      * its watermark delay, and its checkpoint directory, under which
      * each batch logs its changes. Built when the Loader builds the
      * stream, before the query starts; the first Feed this process
      * builds on a checkpoint recovers the map from its log. */
    private final class Feed(name: String, delay: Long, ckpt: Option[Path])
        extends WireSink {
      private val dir = ckpt.map(_.resolve("served-index"))
      private val at = dir.fold(new Progress)(d =>
        progress.getOrElseUpdate((name, d), recover(d)))
      private var started = false

      private def recover(d: Path): Progress = {
        val p = new Progress
        val (mark, snap) = Log.recover(d, d.getParent)(
          merge(_, name),
          k => state.get(k).filter(_.feed == name).foreach(state.remove(k, _)))
        mark.foreach { m =>
          p.maxTime = m.maxTime
          p.watermark = m.watermark
        }
        p.lastSnapshot = snap
        p
      }

      override def write(batch: DataFrame, batchId: Long): Unit = at.synchronized {
        if (!started) {
          // start where Spark starts the query: after the last committed
          // batch. A predecessor stopped between its log write and
          // Spark's commit had moved the progress past the batch Spark
          // now replays; its rows must not read as late.
          dir.foreach { d =>
            val m = Log.committedMark(d, d.getParent)
            at.maxTime = m.fold(Long.MinValue)(_.maxTime)
            at.watermark = m.fold(0L)(_.watermark)
          }
          started = true
        }
        val rows = collectWire(batch, fromRow, latestPerKey(at.watermark * 1000L))
        val pushed = scala.collection.mutable.ArrayBuffer.empty[WireEvent]
        val changed = scala.collection.mutable.ArrayBuffer.empty[WireEvent]
        rows.groupMapReduce(e => (e.host, e.service))(identity)(
            IndexStep.latestWins.max).values.foreach { e =>
          val (winner, replaced) = merge(e, name)
          pushed += winner
          // an event the map already holds is logged again: a replayed
          // batch, merged once before the stop, logs all of its keys
          if (replaced || winner == e) changed += e
          at.maxTime = math.max(at.maxTime, eventMs(e))
        }
        val removed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        if (at.maxTime != Long.MinValue && at.maxTime - delay > at.watermark) {
          // what Spark's no-data batch does once the watermark moves:
          // every entry of this feed whose ttl lapsed leaves once,
          // as one expired copy
          at.watermark = at.maxTime - delay
          state.foreach { case (k, h) =>
            if (h.feed == name &&
                IndexStep.deadline(h.e).exists(_ <= at.watermark) &&
                state.remove(k, h)) {
              removed += k
              pushed += IndexStep.expiredCopy(h.e, at.watermark,
                IndexStep.DefaultKeep)
            }
          }
        }
        dir.foreach { d =>
          val conf = batch.sparkSession.conf
          val mark = Log.Mark(at.maxTime, at.watermark)
          Log.write(d, batchId, delta = true, mark, changed, removed)
          if (batchId - at.lastSnapshot >= conf.get(
              "spark.sql.streaming.stateStore.minDeltasForSnapshot", "10").toLong) {
            Log.write(d, batchId, delta = false, mark,
              state.values.filter(_.feed == name).map(_.e), Nil)
            at.lastSnapshot = batchId
            Log.prune(d, batchId,
              conf.get("spark.sql.streaming.minBatchesToRetain", "100").toLong)
          }
        }
        publish(batch.sparkSession, pushed.toSeq, batchId)
      }
    }

    private def live(h: Held): Boolean = h.e.state != "expired"

    /** The live events, for Spark-free serving (ws/sse dumps, the wire
      * handler, specs). A TrieMap iterator is a weakly-consistent O(n)
      * walk — no lock, no Spark job. An entry whose latest event is
      * itself `state="expired"` is held, unserved, until it is
      * outranked or reaped, as the keyed-state index holds it. */
    def events: Seq[WireEvent] =
      state.values.iterator.filter(live).map(_.e).toSeq

    /** Direct upsert, for probes and specs (the streaming path goes
      * through [[sinkFor]]); `state="expired"` deletes. */
    private[graft] def putTagged(e: WireEvent): Unit =
      if (e.state == "expired") { state.remove((e.host, e.service)); () }
      else state((e.host, e.service)) = Held(e, "")

    def size: Int = state.values.count(live)

    /** Spark-free query search (transport.clj:175-189 semantics): the
      * pkey fast path for `host = "h" and service = "s"` point lookups
      * (index.clj:44-56), the LRU-cached compiled closure for
      * everything else. Its parity oracle is the query's Catalyst
      * predicate over a relation of [[events]] (EventPredicateSpec). */
    def search(q: String): Seq[WireEvent] =
      searchAst(q, graft.query.QueryLanguage.parse(q))

    private def searchAst(q: String,
        ast: graft.query.QueryLanguage.Ast): Seq[WireEvent] = {
      import graft.query.EventPredicate
      EventPredicate.pkeyLookup(ast) match {
        case Some(key) => state.get(key).filter(live).map(_.e).toSeq
        case None =>
          val pred = EventPredicate.forAst(q, ast)
          state.values.iterator.filter(h => live(h) && pred(h.e))
            .map(_.e).toSeq
      }
    }

    /** The riemann-wire query handler: parse the query language, serve
      * from the in-memory index via [[search]] — NO Spark job on the
      * serving path. Parse failures reply `parse error: …` like the
      * reference. */
    def queryHandler: String => Either[String, Seq[
        graft.sources.RiemannProtobuf.PEvent]] = q => {
      import graft.query.QueryLanguage
      import graft.sources.RiemannProtobuf.PEvent
      (try Right(QueryLanguage.parse(q))
      catch { case NonFatal(e) => Left(s"parse error: ${e.getMessage}") })
        .flatMap { ast =>
          try Right(searchAst(q, ast).map(e => PEvent(e.host, e.service, e.state,
            null, e.metric, Option(e.tags).getOrElse(Nil),
            Some(e.time.getTime / 1000L), e.ttl,
            Option(e.attributes).getOrElse(Map.empty))))
          catch {
            case NonFatal(e) => Left(String.valueOf(e.getMessage))
          }
        }
    }
  }

  object ServedIndex {
    /** A map entry: the key's latest event and the stream that wrote
      * it ("" for direct upserts), whose watermark reaps it. */
    private final case class Held(e: WireEvent, feed: String)

    /** A feed's progress: Spark's event-time watermark (starts at 0,
      * then max(time) - delay, never moving back), the max event time
      * it follows, and the batch of the last log snapshot. */
    private final class Progress {
      var maxTime = Long.MinValue
      var watermark = 0L
      var lastSnapshot = -1L
    }

    /** The one Spark job of a served-index batch: the micro-batch's own
      * plan run as it is, its whole-event rows ([[WireSink]]) read by
      * `fromRow` and passed through `reduce` on the executors, the
      * results collected. A batch without input partitions (a trigger
      * with no frames) runs no job. */
    private def collectWire(batch: DataFrame,
        fromRow: ExpressionEncoder.Deserializer[WireEvent],
        reduce: Iterator[WireEvent] => Iterator[WireEvent]): Array[WireEvent] = {
      val rdd = batch.queryExecution.toRdd
      if (rdd.getNumPartitions == 0) Array.empty
      else rdd.mapPartitions(rows => reduce(rows.map(fromRow))).collect()
    }

    /** Epoch microseconds, as Spark's watermark predicate reads them. */
    private def eventMicros(e: WireEvent): Long =
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(e.time)

    /** Epoch milliseconds, as Spark's watermark tracks the max. */
    private def eventMs(e: WireEvent): Long = eventMicros(e) / 1000L

    private def delayMs(interval: String): Long =
      org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.getDelayMs(
        org.apache.spark.sql.catalyst.util.IntervalUtils
          .fromIntervalString(interval))

    /** The executor side of a batch: one partition's latest event per
      * key, rows at or below the watermark (`lateUpTo`, µs) dropped as
      * late by Spark's watermark predicate. */
    private def latestPerKey(lateUpTo: Long)(
        rows: Iterator[WireEvent]): Iterator[WireEvent] = {
      val latest = new java.util.HashMap[(String, String), WireEvent]()
      rows.foreach { e =>
        if (eventMicros(e) > lateUpTo)
          latest.merge((e.host, e.service), e,
            (a, b) => IndexStep.latestWins.max(a, b))
      }
      latest.values.iterator.asScala
    }

    /** The served index's durable log, `HDFSBackedStateStore`'s
      * delta-plus-snapshot pattern on a local directory: each batch
      * writes `<batchId>.delta` (the entries it changed, the keys it
      * reaped, and the feed's [[Log.Mark]]), every
      * `minDeltasForSnapshot` batches a `<batchId>.snapshot` holds all
      * of the feed's entries, and files no longer needed to rebuild
      * the last `minBatchesToRetain` batches are deleted. Each file is
      * written to a temporary name and renamed into place, so a
      * replayed batch overwrites its own file whole. Recovery reads up
      * to the last batch the query committed (`<checkpoint>/commits`):
      * a batch that ran but did not commit is replayed by Spark and
      * logs again. */
    private[graft] object Log {
      private val Magic = 0x47534931 // "GSI1"

      /** What each file records of its feed after the batch: the max
        * event time and the watermark. A flag follows it in the file,
        * written true: the events' containers are as logged. A file
        * with it false was written by a feed without tags or attributes
        * columns before events carried absent containers as null; its
        * empty containers read as absent. */
      final case class Mark(maxTime: Long, watermark: Long)

      private def file(dir: Path, batchId: Long, delta: Boolean): Path =
        dir.resolve(s"$batchId.${if (delta) "delta" else "snapshot"}")

      /** (batch id, is delta) of every log file in `dir`. */
      private def files(dir: Path): Seq[(Long, Boolean, Path)] =
        Option(dir.toFile.listFiles()).toSeq.flatten.flatMap { f =>
          f.getName.split('.') match {
            case Array(id, ext @ ("delta" | "snapshot"))
                if id.nonEmpty && id.forall(_.isDigit) =>
              Some((id.toLong, ext == "delta", f.toPath))
            case _ => None
          }
        }

      def write(dir: Path, batchId: Long, delta: Boolean, mark: Mark,
          upserts: Iterable[WireEvent],
          removed: Iterable[(String, String)]): Unit = {
        Files.createDirectories(dir)
        val target = file(dir, batchId, delta)
        val tmp = dir.resolve(s".${target.getFileName}.tmp")
        val out = new DataOutputStream(
          new BufferedOutputStream(Files.newOutputStream(tmp)))
        try {
          out.writeInt(Magic)
          out.writeLong(mark.maxTime)
          out.writeLong(mark.watermark)
          out.writeBoolean(true)
          out.writeInt(upserts.size)
          upserts.foreach(writeEvent(out, _))
          out.writeInt(removed.size)
          removed.foreach { case (h, s) => writeStr(out, h); writeStr(out, s) }
        } finally out.close()
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }

      /** The last batch `checkpoint` committed, -1 for none. */
      private def committed(checkpoint: Path): Long =
        Option(checkpoint.resolve("commits").toFile.listFiles())
          .toSeq.flatten.map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong).maxOption.getOrElse(-1L)

      private def readMark(in: DataInputStream, p: Path): Mark = {
        require(in.readInt() == Magic, s"$p: not a served-index log file")
        Mark(in.readLong(), in.readLong())
      }

      /** The [[Mark]] of the last batch `checkpoint` committed. */
      def committedMark(dir: Path, checkpoint: Path): Option[Mark] = {
        val last = committed(checkpoint)
        files(dir).filter(_._1 <= last).maxByOption(_._1).map { case (_, _, p) =>
          val in = new DataInputStream(
            new BufferedInputStream(Files.newInputStream(p)))
          try readMark(in, p) finally in.close()
        }
      }

      /** Replays `dir` up to the last batch `checkpoint` committed,
        * handing each file's upserts, then its removals, to `upsert`
        * and `remove` in log order. Returns the last [[Mark]] and the
        * id of the snapshot replay started from (-1 for none). */
      def recover(dir: Path, checkpoint: Path)(upsert: WireEvent => Unit,
          remove: ((String, String)) => Unit): (Option[Mark], Long) = {
        val fs = files(dir).filter(_._1 <= committed(checkpoint))
        val snap = fs.filter(!_._2).map(_._1).maxOption.getOrElse(-1L)
        val chain = fs.filter { case (id, delta, _) =>
          if (delta) id > snap else id == snap
        }.sortBy(_._1)
        var mark: Option[Mark] = None
        chain.foreach { case (_, _, p) =>
          val in = new DataInputStream(
            new BufferedInputStream(Files.newInputStream(p)))
          try {
            mark = Some(readMark(in, p))
            val asLogged = in.readBoolean()
            for (_ <- 0 until in.readInt()) {
              val e = readEvent(in)
              upsert(if (asLogged) e
                else e.copy(tags = null, attributes = null))
            }
            for (_ <- 0 until in.readInt()) remove((readStr(in), readStr(in)))
          } finally in.close()
        }
        (mark, snap)
      }

      /** Deletes every file older than the snapshot needed to rebuild
        * batch `latest - retain`. */
      def prune(dir: Path, latest: Long, retain: Long): Unit = {
        val fs = files(dir)
        fs.filter(f => !f._2 && f._1 <= latest - retain).map(_._1).maxOption
          .foreach(keep => fs.filter(_._1 < keep)
            .foreach(f => Files.deleteIfExists(f._3)))
      }

      private def writeStr(out: DataOutputStream, s: String): Unit =
        if (s == null) out.writeInt(-1)
        else {
          val b = s.getBytes(StandardCharsets.UTF_8)
          out.writeInt(b.length)
          out.write(b)
        }

      private def readStr(in: DataInputStream): String = in.readInt() match {
        case -1 => null
        case n =>
          val b = new Array[Byte](n)
          in.readFully(b)
          new String(b, StandardCharsets.UTF_8)
      }

      private def writeOpt(out: DataOutputStream, d: Option[Double]): Unit = {
        out.writeBoolean(d.isDefined)
        d.foreach(out.writeDouble)
      }

      private def readOpt(in: DataInputStream): Option[Double] =
        if (in.readBoolean()) Some(in.readDouble()) else None

      private def writeEvent(out: DataOutputStream, e: WireEvent): Unit = {
        writeStr(out, e.host)
        writeStr(out, e.service)
        writeStr(out, e.state)
        writeOpt(out, e.metric)
        out.writeLong(e.time.getTime)
        out.writeInt(e.time.getNanos)
        writeOpt(out, e.ttl)
        if (e.tags == null) out.writeInt(-1)
        else { out.writeInt(e.tags.size); e.tags.foreach(writeStr(out, _)) }
        if (e.attributes == null) out.writeInt(-1)
        else {
          out.writeInt(e.attributes.size)
          e.attributes.foreach { case (k, v) => writeStr(out, k); writeStr(out, v) }
        }
      }

      private def readEvent(in: DataInputStream): WireEvent = {
        val host = readStr(in)
        val service = readStr(in)
        val st = readStr(in)
        val metric = readOpt(in)
        val time = new java.sql.Timestamp(in.readLong())
        time.setNanos(in.readInt())
        val ttl = readOpt(in)
        val tags = in.readInt() match {
          case -1 => null
          case n => Seq.fill(n)(readStr(in))
        }
        val attrs = in.readInt() match {
          case -1 => null
          case n => Seq.fill(n)((readStr(in), readStr(in))).toMap
        }
        WireEvent(host, service, st, metric, time, ttl, tags, attrs)
      }
    }
  }

  /** A started process: the handle `main` blocks on and specs drive. */
  final class Running(
      val spark: SparkSession,
      val core: Core,
      val loader: ConfigFile.Loader,
      val pubsub: Sinks.Pubsub,
      val index: ServedIndex,
      path: Path) {
    private[Main] val done = new CountDownLatch(1)
    private var ws: Option[WsServer] = None
    private var sse: Option[SseServer] = None
    private var wsSpec: String = ""
    private var sseSpec: String = ""
    private var queryPorts: Set[Int] = Set.empty
    // model-artifact retention (r17 VERDICT #8): the store writes one
    // directory per config hash forever under config churn; a
    // long-running deployment self-prunes on the configured cadence
    private var pruneSpec: String = ""
    private var pruneTask: Option[java.util.concurrent.ScheduledFuture[_]] = None
    // whether the lazy scheduler was ever instantiated: stop() must
    // shut it down even when a reload has since removed the modelsKeep
    // block (pruneSpec empty again) — otherwise the daemon prune
    // thread outlives Running.stop() until JVM exit (r18 ADVICE)
    private var pruneSchedulerStarted = false
    private lazy val pruneScheduler = {
      pruneSchedulerStarted = true
      val s = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
        val t = new Thread(r, "graft-models-prune"); t.setDaemon(true); t
      })
      s.setExecuteExistingDelayedTasksAfterShutdownPolicy(false); s
    }
    /** Deleted-artifact counter, for specs and ops visibility. */
    @volatile private[graft] var prunedCount: Long = 0L

    /** Full server-aware reload — what SIGHUP drives (bin.clj:39-77 +
      * core.clj:105-161's restart of non-equiv services). Re-reads the
      * file, rebuilds the ingest-server source thunks, and salts each
      * stream's signature with the canonical JSON of its server block:
      * editing a server block (port, TLS material) makes exactly the
      * streams bound to it non-equiv, and their restart is what
      * rebinds the socket — the old query's source stop() closes the
      * listen socket and parks its undrained frames, the new query's
      * source binds the edited address and adopts them (the
      * RiemannServers handoff). ws/sse restart only when their own
      * block changed; wire query handlers follow the current tcp
      * ports. A malformed file throws before any running state is
      * touched (thunks and specs are extracted eagerly first), so a
      * failed reload keeps the old topology — the reference's
      * catch-and-log reload contract. */
    def reload(): Seq[String] = reload(ConfigFile.read(path))

    /** [[reload]] from one read of the file tree: servers, modelsKeep,
      * fanout and streams all come from `config`, each top-level block
      * from the last file in include order that defines it. */
    private[Main] def reload(config: ConfigFile.Snapshot): Seq[String] =
        synchronized {
      val blocks = config.obj("servers").fold(
        List.empty[(String, ConfigFile.Args)])(_.objectFields)
      // everything throw-prone happens before any mutation
      val ingest = blocks.filter { case (n, _) => n != "ws" && n != "sse" }
        .map { case (n, o) => (n, o.str("protocol", n), o) }
      val thunks = ingest.map { case (n, protocol, o) =>
        n -> ingestSource(spark, n, protocol, o) }.toMap
      val salts = blocks.map { case (n, o) => n -> ("#server:" + canon(o)) }.toMap
      def queryServer(name: String) = blocks.collectFirst { case (`name`, o) =>
        (canon(o), o.int("port"), o.str("host", DefaultHost)) }
      val newWs = queryServer("ws")
      val newSse = queryServer("sse")
      // riemann-wire index queries (transport.clj:175-181): every tcp
      // ingest server answers `Msg{query}` from the served index
      val newPorts: Set[Int] = ingest.collect {
        case (_, "tcp", o) => o.int("port") }.toSet
      // {"fanout": {"replayable": ["name", ...]}} — sources that fan
      // out natively, so their subscribers need no tee. `files` blocks
      // are natively replayable (every file-source query tracks its
      // own seen-files set) and register automatically; `replayable`
      // adds host-known names on top, re-applied on every reload. Any
      // other key fails the load — the keys of the former on-disk
      // fan-out store included, so a deployment that relied on it
      // learns at start, not after a crash
      val filesNames = ingest.collect { case (n, "files", _) => n }.toSet
      val fanout = config.obj("fanout")
      for (o <- fanout; (k, v) <- o.json.obj
          if k != "replayable" && v != JNull)
        throw new IllegalArgumentException(s"fanout.$k: unknown key; " +
          "fanout takes only \"replayable\". Fan-out is in memory now: " +
          "the on-disk fan-out store and its keys are gone, so use " +
          "fanout.replayable for durable fan-out")
      val extraReplayable = fanout.fold(Set.empty[String])(
        _.strings("replayable").toSet)
      // {"modelsKeep": {"root": "<dir>", "keepPerKind": N,
      //  "intervalSeconds": N}} — prune once now and then on the
      // cadence; absent block = no automatic pruning (Models.main's
      // list/prune CLI remains the manual path). Reconfigured only on
      // block change, like ws/sse.
      val newPrune = config.obj("modelsKeep").map(o => (canon(o),
        o.str("root", new org.apache.hadoop.fs.Path(
          graft.pipeline.Models.defaultRoot("x")).getParent.toString),
        o.int("keepPerKind", 3), o.long("intervalSeconds", 3600L)))
      loader.sources = thunks
      loader.sourceSignature = n => salts.getOrElse(n, "")
      loader.replayableSources = filesNames ++ extraReplayable
      // ws/sse dumps serve the in-memory event snapshot (Spark-free
      // path); restart only on block change so live subscribers of an
      // untouched server keep their connections
      val wsCanon = newWs.fold("")(_._1)
      if (wsCanon != wsSpec) {
        ws.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        ws = newWs.map { case (_, port, host) =>
          new WsServer(pubsub, port, host = host,
            snapshotEvents = () => Some(index.events))
        }
        wsSpec = wsCanon
      }
      val sseCanon = newSse.fold("")(_._1)
      if (sseCanon != sseSpec) {
        sse.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        sse = newSse.map { case (_, port, host) =>
          new SseServer(pubsub, port, host = host,
            snapshotEvents = () => Some(index.events))
        }
        sseSpec = sseCanon
      }
      (queryPorts -- newPorts)
        .foreach(graft.sources.RiemannServers.unregisterQueryHandler)
      (newPorts -- queryPorts).foreach(p =>
        graft.sources.RiemannServers.registerQueryHandler(p,
          index.queryHandler))
      queryPorts = newPorts
      val pruneCanon = newPrune.fold("")(_._1)
      if (pruneCanon != pruneSpec) {
        pruneTask.foreach(_.cancel(false))
        pruneTask = newPrune.map { case (_, root, keep, interval) =>
          val job: Runnable = () =>
            try prunedCount +=
              graft.pipeline.Models.prune(spark, root, keep).size
            catch {
              case NonFatal(e) =>
                System.err.println(s"[models] prune failed: ${e.getMessage}")
            }
          pruneScheduler.scheduleWithFixedDelay(job, 0L, interval,
            java.util.concurrent.TimeUnit.SECONDS)
        }
        pruneSpec = pruneCanon
      }
      loader.reload(config)
    }

    def installSighup(): Boolean = loader.installSighup(() => { reload(); () })

    def stop(): Unit = {
      try core.stop() catch { case NonFatal(_) => () }
      synchronized {
        ws.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        sse.foreach(s => try s.stop() catch { case NonFatal(_) => () })
        queryPorts
          .foreach(graft.sources.RiemannServers.unregisterQueryHandler)
        pruneTask.foreach(_.cancel(false))
        if (pruneSchedulerStarted) pruneScheduler.shutdown()
      }
      done.countDown()
    }
  }

  private val DefaultHost = "127.0.0.1"

  private def canon(o: ConfigFile.Args): String =
    JsonMethods.compact(JsonMethods.render(o.json))

  /** Decoded-wire columns → the whole-event columns the config ops
    * consume ([[WireEvent]]'s: the wire tags and attributes feed the
    * tag/tagged-* ops and the index). */
  private def asEvents(df: DataFrame): DataFrame =
    df.select(col("host"), col("service"), col("state"), col("metric"),
      timestamp_seconds(col("time_s")).as("time"), col("ttl"), col("tags"),
      col("attributes"))

  /** The shuffle width of a session a command builds for itself: one
    * partition per core (`defaultParallelism`, the core count under
    * `local[*]`), unless GRAFT_SHUFFLE_PARTITIONS names one. Each
    * partition of a stateful stage is its own RocksDB store, committed
    * and snapshotted on every trigger, so this width sets the fixed
    * per-trigger cost of the index stream. A query restarted over an
    * existing checkpoint keeps the width it was created with: Spark
    * restores it from the offset log. A caller's session is never
    * passed here. */
  private[graft] def perCoreShuffle(spark: SparkSession,
      env: Map[String, String] = sys.env): SparkSession = {
    spark.conf.set("spark.sql.shuffle.partitions",
      env.getOrElse("GRAFT_SHUFFLE_PARTITIONS",
        spark.sparkContext.defaultParallelism.toString))
    spark
  }

  /** The session a command builds for itself: `GRAFT_MASTER` (default
    * `local[*]`), UTC, [[graft.query.RiemannExtensions]], `conf`, and
    * [[perCoreShuffle]]. Start-up is bound by class loading on one
    * thread, so Scala runtime reflection, which the session builder and
    * every case-class encoder initialize first, warms on a daemon thread
    * while this one starts the `SparkContext`; the session is then built
    * on that context. */
  private[graft] def ownSession(app: String, conf: (String, String)*): SparkSession = {
    background("graft-warm-reflect") { scala.reflect.runtime.universe; () }
    val sc = startupLayer("context")(SparkContext.getOrCreate(new SparkConf()
      .setMaster(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .setAppName(app)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.sql.extensions", "graft.query.RiemannExtensions")
      .setAll(conf)))
    startupLayer("session")(perCoreShuffle(
      org.apache.spark.sql.graft.SessionBridge.onContext(sc)))
  }

  /** Runs `body` on a started daemon thread, which logs a non-fatal
    * failure to stderr and passes nothing on: start-up work beside the
    * critical path never delays or fails a start. */
  private def background(name: String)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body
      catch {
        case NonFatal(e) => System.err.println(s"[$name] failed: $e")
      }, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** `body`, then one `riemann startup <layer> <ms> ms` line on stderr:
    * the set-up split, under the names the process's own `riemann
    * startup` events are to take. */
  private def startupLayer[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    System.err.println(s"riemann startup $layer ${(System.nanoTime() - t0) / 1000000} ms")
    out
  }

  /** Starts the cold work of a first query on a daemon thread, so the
    * first triggers do not pay it alone: one small query through
    * analysis, whole-stage codegen and one job of at most one task per
    * core. Leaves the session's conf as it found it. */
  private[graft] def warmUp(spark: SparkSession): Thread =
    background("graft-warm-up") {
      val n = spark.sparkContext.defaultParallelism
      spark.range(0, n, 1, n).selectExpr("id + 1").collect()
      ()
    }

  /** Assemble the process from a config file: servers, sources, Core +
    * Loader, the served index, and the ws/sse query surfaces. The
    * returned handle owns everything [[main]] blocks on. With its own
    * session, [[warmUp]] runs while this thread reads the config and
    * builds the streams. Prints the set-up layers `context` and
    * `session` (own session only), `config`, and `streams` (the stream
    * build and query start). */
  def start(path: Path, spark0: Option[SparkSession] = None): Running = {
    val spark = spark0.getOrElse(ownSession("graft"))
    // an index op outside the served index runs on transformWithState,
    // which needs a state store with column families — RocksDB, the
    // production store for every stateful operator here (the HDFSBacked default cannot
    // serve it, and conf.getOption cannot distinguish "defaulted" from
    // "explicitly chosen", so the process entry point just sets it)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val pubsub = new Sinks.Pubsub
    // the index sink publishes each batch's pushes to the "index"
    // pubsub channel, so ws/sse subscribers see them after their dump
    val index = new ServedIndex(spark, pubsub)
    if (spark0.isEmpty) warmUp(spark)
    val core = new Core(spark)
    val config = startupLayer("config")(ConfigFile.read(path))
    val loader = new ConfigFile.Loader(core, spark, path, Map.empty,
      sinkFactories = Map("index" ->
        ConfigFile.SinkKind(index.sinkFor, absorbs = Some("index"))))
    val running = new Running(spark, core, loader, pubsub, index, path)
    // the first reload builds the ingest servers from the file, salts
    // stream signatures with their server blocks, starts ws/sse, and
    // starts the stream topology — the same path SIGHUP drives later
    startupLayer("streams")(running.reload(config))
    running
  }

  /** The source thunk of one ingest-server block — every block but
    * `ws`/`sse` is an ingest source named after its key; `protocol`
    * defaults to that key, so {"tcp": {...}} just works and
    * {"tcp2": {"protocol": "tcp", ...}} opens a second one. Everything
    * that can reject a block (ports, hosts, TLS material, strict
    * booleans) is extracted EAGERLY here, not when the stream first
    * starts, so a reload against a malformed file throws before any
    * running state is touched. */
  private def ingestSource(spark: SparkSession, name: String,
      protocol: String, o: ConfigFile.Args): () => DataFrame =
    if (protocol == "files") filesSource(spark, o)
    else {
      val port = o.int("port")
      val host = o.str("host", DefaultHost)
      protocol match {
        case "tcp" => o.strOpt("tlskeystore") match {
          case Some(keystore) =>
            // mutual-TLS termination (the reference's tls? server):
            // keystore = server identity, truststore (defaults to the
            // keystore) anchors client certs when tlsclientauth is set —
            // a malformed value must fail the load, not fall back to a
            // plaintext or no-client-auth server
            val password = o.str("tlspassword")
            val truststore = o.strOpt("tlstruststore")
            val clientAuth = o.bool("tlsclientauth", false)
            () => asEvents(Sources.riemannTlsServer(spark, host, port,
              keystore, password, truststore = truststore,
              clientAuth = clientAuth))
          case None =>
            () => asEvents(Sources.riemannTcpServer(spark, host, port))
        }
        case "udp" =>
          () => asEvents(Sources.riemannUdpServer(spark, host, port))
        case "graphite" => () => Sources.graphiteServer(spark, host, port)
        case "opentsdb" => () => Sources.opentsdbServer(spark, host, port)
        case other => throw new IllegalArgumentException(
          s"servers.$name: unknown protocol '$other'")
      }
    }

  /** `{"protocol": "files", "path": <dir>, "format": "parquet"|"json"|
    * "csv", "schema": <DDL, optional>, "maxFilesPerTrigger": N,
    * "options": {...}}` — a file-landing-zone ingest source: the
    * curation firehose's production shape (documents land as parquet,
    * the streams watch the directory). File sources are NATIVELY
    * replayable (each query tracks its own seen-files set), so the
    * loader never tees them — [[Running.reload]] auto-registers every
    * `files` block in `replayableSources`. Schema comes from the DDL
    * when given, else is inferred EAGERLY from the existing files (a
    * missing/empty dir with no DDL throws at reload, keeping the
    * old topology — same eager-extraction contract as ports/TLS). */
  private def filesSource(spark: SparkSession,
      o: ConfigFile.Args): () => DataFrame = {
    val path = o.str("path")
    val fmt = o.str("format", "parquet")
    require(Set("parquet", "json", "csv")(fmt),
      s"${o.at}.format: parquet|json|csv, got '$fmt'")
    val opts = o.strMap("options").toMap
    val schema = o.strOpt("schema").fold {
      // eager: a reload against an empty landing zone must throw NOW
      val inferred =
        try spark.read.format(fmt).options(opts).load(path).schema
        catch {
          case NonFatal(e) => throw new IllegalArgumentException(
            s"${o.at}: cannot infer schema from '$path' " +
              s"(${e.getMessage}); provide \"schema\" as a DDL string " +
              "or land at least one file first")
        }
      if (inferred.isEmpty) throw new IllegalArgumentException(
        s"${o.at}: '$path' yields an empty schema; provide " +
          "\"schema\" as a DDL string")
      inferred
    }(org.apache.spark.sql.types.StructType.fromDDL)
    val maxFiles = o.numOpt("maxFilesPerTrigger").map(_.toInt)
    () => {
      val r = spark.readStream.schema(schema).format(fmt).options(opts)
      maxFiles.foreach(n => r.option("maxFilesPerTrigger", n))
      r.load(path)
    }
  }

  /** `graft.Main test <config>` — the bin.clj "test" command: run the
    * config file's `tests` array against its stream definitions. Each
    * test drives ONE named stream as a REAL streaming query (so every
    * op — index, throttle, windows — behaves exactly as deployed): the
    * stream's source is replaced by an in-memory input, `inject`ed
    * events flow through the compiled pipeline into a memory sink, and
    * every `expect` entry must match some output row on ALL the fields
    * it names (subset semantics, like the reference's tap assertions);
    * `expect_count`, when given, pins the exact row count.
    *
    * {{{
    * "tests": [
    *   {"name": "hot", "stream": "hot",
    *    "inject": [{"host":"h1","service":"cpu","state":"critical",
    *                "metric":0.9,"time_s":100}],
    *    "expect": [{"host":"h1"}], "expect_count": 1}
    * ]
    * }}}
    *
    * Returns (passed, failed) and prints one line per test. */
  def runTests(path: Path, spark: SparkSession): (Int, Int) = {
    // the stateful ops need RocksDB; snapshot the caller's provider and
    // restore it on every exit path — a test run must not leak session
    // conf into whatever shares the SparkSession
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val config = ConfigFile.read(path)
      val streams = config.streams
        .map(s => ConfigFile.str(s \ "name", "stream.name") -> s).toMap
      var passed, failed = 0
      for (t <- config.tests) {
        val name = ConfigFile.str(t \ "name", "test.name")
        // one broken test must not abort the run: report it as FAIL
        // and keep going (the reference's runner reports per-deftest)
        val failures =
          try {
            val streamName = ConfigFile.str(t \ "stream", s"$name.stream")
            val stream = streams.getOrElse(streamName,
              throw new IllegalArgumentException(
                s"unknown stream '$streamName'"))
            runOneTest(spark, name, stream, t)
          } catch {
            case NonFatal(e) => Seq(s"error: ${e.getMessage}")
          }
        if (failures.isEmpty) { passed += 1; println(s"PASS $name") }
        else {
          failed += 1
          println(s"FAIL $name: ${failures.mkString("; ")}")
        }
      }
      println(s"== $passed passed, $failed failed ==")
      (passed, failed)
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def runOneTest(spark: SparkSession, name: String,
      stream: JObject, t: JObject): Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[WireEvent]
    val out = ConfigFile.compilePipeline(input.toDF(), stream)
    val sinkName = s"graft_test_${name.replaceAll("[^A-Za-z0-9_]", "_")}" +
      s"_${System.nanoTime()}"
    // honor the stream's configured outputMode ("behaves exactly as
    // deployed"): an update-mode window stream must not spuriously
    // fail because the harness forced append
    val mode = ConfigFile.outputMode(stream)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-test-$name")
    val q = out.writeStream.format("memory").queryName(sinkName)
      .outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      val test = new ConfigFile.Args(t, name)
      val events = test.objs("inject").map { e =>
        val o = new ConfigFile.Args(e, s"$name.inject")
        WireEvent(o.str("host", null), o.str("service", null),
          o.str("state", null), o.numOpt("metric"),
          new java.sql.Timestamp((o.num("time_s") * 1000).toLong),
          o.numOpt("ttl"), o.strings("tags"), null)
      }
      input.addData(events)
      q.processAllAvailable()
      val rows = spark.table(sinkName).collect()
      def fieldMatches(k: String, v: JValue,
          row: org.apache.spark.sql.Row): Boolean = {
        if (!row.schema.fieldNames.contains(k)) return false
        val i = row.fieldIndex(k)
        v match {
          case JNull => row.isNullAt(i)
          case JString(s) => !row.isNullAt(i) && row.get(i).toString == s
          case JBool(b) => !row.isNullAt(i) && row.get(i) == b
          case JArray(vs) => !row.isNullAt(i) && (row.get(i) match {
            case seq: scala.collection.Seq[_] =>
              seq.map(String.valueOf(_)) ==
                vs.map(x => ConfigFile.str(x, k))
            case _ => false
          })
          case n => !row.isNullAt(i) &&
            // a non-numeric column compared to a number is a MISMATCH,
            // not a crash (the test reports "no row matches")
            (try math.abs(row.get(i).toString.toDouble -
              ConfigFile.num(n, k)) < 1e-9
            catch { case _: NumberFormatException => false })
        }
      }
      def matches(exp: JObject, row: org.apache.spark.sql.Row): Boolean =
        exp.obj.forall { case JField(k, v) => fieldMatches(k, v, row) }
      val misses = test.objs("expect").filterNot(e => rows.exists(matches(e, _)))
        .map(e => s"no row matches ${JsonMethods.compact(JsonMethods.render(e))}")
      val countMiss = test.numOpt("expect_count").map(_.toInt)
        .filter(_ != rows.length)
        .map(want => s"expected $want rows, got ${rows.length}")
      misses ++ countMiss
    } finally {
      q.stop()
      spark.catalog.dropTempView(sinkName)
      // best-effort checkpoint cleanup — repeated runs must not
      // accumulate /tmp directories
      try {
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case NonFatal(_) => () }
    }
  }

  /** `graft.Main jobs <config>` — run the file's batch `jobs` array
    * once (the corpus planners the streaming firehose cannot express:
    * cap/pack/sample/mixture) and print one line per job. The exit
    * code reports failure loudly so schedulers (cron, airflow-style
    * wrappers) can alert; individual jobs are NOT isolated — a failed
    * job aborts the run with its cause, because a half-written
    * planning pass must never look like success. */
  def runJobsCmd(path: Path, spark: SparkSession): Seq[(String, Long)] = {
    val results = ConfigFile.runJobs(spark, path)
    results.foreach { case (name, rows) => println(s"JOB $name: $rows rows") }
    println(s"== ${results.size} job(s) completed ==")
    results
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "version" :: _ => println(Version)
    case "jobs" :: cfg :: _ =>
      val spark = ownSession("graft-jobs", "spark.ui.enabled" -> "false")
      val code =
        try { runJobsCmd(Paths.get(cfg), spark); 0 }
        catch {
          case NonFatal(e) =>
            System.err.println(s"[jobs] failed: ${e.getMessage}")
            1
        }
      spark.stop()
      sys.exit(code)
    case "test" :: cfg :: _ =>
      // bin.clj's "test" command: exit 0 iff every config test passes
      val spark = ownSession("graft-test", "spark.ui.enabled" -> "false")
      val (_, failedN) = runTests(Paths.get(cfg), spark)
      spark.stop()
      sys.exit(if (failedN == 0) 0 else 1)
    case rest =>
      val cfg = rest match {
        case "start" :: p :: _ => p
        case p :: _ => p
        case Nil => "graft.config.json"
      }
      val running = start(Paths.get(cfg))
      running.installSighup() // full reload: servers + streams
      sys.addShutdownHook(running.stop())
      // bin.clj's run-app!: the streaming queries and server threads
      // ARE the process; block until stop()
      running.done.await()
  }
}
