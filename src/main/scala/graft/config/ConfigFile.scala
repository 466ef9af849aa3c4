package graft.config

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Core
import graft.sinks.Sinks
import graft.sources.FanoutBuffer
import graft.streaming.{KeyedIndex, StatefulOps, WireEvent}

/** External config-file surface — the riemann.config analog (reference
  * `src/riemann/config.clj:444-467` `include`, `src/riemann/bin.clj:39-77`
  * SIGHUP-triggered reload).
  *
  * The reference's config is a Clojure *program* evaluated into stream
  * functions; a Spark-first engine declares plans, so the file is a
  * declarative JSON pipeline spec instead: each stream names a source,
  * a chain of ops, and a sink. Compilation targets the proven
  * [[graft.Core]] transition!/equiv? lifecycle: a stream's signature is
  * its canonical JSON subtree, so an edited file only restarts streams
  * whose definition actually changed — unchanged streams keep running
  * (and keep their checkpointed state), removed streams stop, new ones
  * start. `include` merges sub-files (cycle-guarded, paths relative to
  * the including file) before compilation, like config.clj's eval'd
  * include but without arbitrary code execution.
  *
  * The file's sections, the op vocabulary with each op's arguments,
  * the sink spec and the argument rule every value follows are
  * documented in `docs/config.md`; [[ops]] is the one table of ops.
  *
  * Batch jobs ([[runJobs]]) share this op compiler: each job's
  * pipeline runs once over its input corpus — the planning passes
  * (cap/pack/sample/mixture) that need corpus-level aggregation live
  * here, next to the same quality/dedup/tokens ops the firehose runs
  * continuously.
  */
object ConfigFile {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One read of a config file and its transitive includes: each
    * file's document in include order, a file's includes (depth first,
    * in listed order) before the file itself. Every projection reads
    * this one list, so one reload sees one state of the files. */
  final class Snapshot private[ConfigFile] (docs: List[(Path, Args)]) {

    /** The streams in include order, includer last, so an includer can
      * shadow an included stream by name (last definition of a name
      * wins, matching LinkedHashMap replacement in [[Core.stream]]). */
    def streams: List[JObject] = docs.flatMap { case (file, doc) =>
      val own = doc.objs("streams")
      // two definitions of one name in the SAME file is the pasted-twice
      // typo, not the include-shadowing contract — reject it here, where
      // the origin file is still known (reload's last-wins collapse
      // would silently never run the first definition). Shadowing across
      // include boundaries (includer after its includes) stays legal.
      val names = own.map(s => str(s \ "name", "stream.name"))
      val dups = names.diff(names.distinct).distinct
      if (dups.nonEmpty)
        throw new IllegalArgumentException(
          s"duplicate stream name(s) ${dups.mkString(", ")} defined in $file" +
            " — names must be unique within one file; use an include to" +
            " shadow a stream")
      own
    }

    /** The `tests` arrays (the `riemann test` workflow), in include
      * order: a test suite split across includes runs whole. */
    def tests: List[JObject] = docs.flatMap(_._2.objs("tests"))

    /** The `jobs` arrays — the batch half of the curation surface, see
      * [[runJobs]]. */
    def jobs: List[JObject] = docs.flatMap(_._2.objs("jobs"))

    /** The top-level object `key` of the LAST file in include order
      * that defines it (`servers`, `modelsKeep`, `fanout`). */
    def obj(key: String): Option[Args] = docs.flatMap(_._2.obj(key)).lastOption
  }

  /** Read `path` and its transitive includes. Includes resolve relative
    * to the including file and are cycle-guarded. */
  def read(path: Path): Snapshot = {
    def walk(p: Path, seen: Set[Path]): List[(Path, Args)] = {
      val real = p.toRealPath()
      if (seen.contains(real))
        throw new IllegalArgumentException(s"include cycle at $real")
      val doc = new Args(obj(JsonMethods.parse(Files.readString(real)),
        real.toString), "")
      doc.strings("include")
        .flatMap(rel => walk(real.getParent.resolve(rel), seen + real)) :+
        (real -> doc)
    }
    new Snapshot(walk(path, Set.empty))
  }

  /** The include-merged streams of `path` ([[Snapshot.streams]]). */
  def load(path: Path): List[JObject] = read(path).streams

  /** The include-merged batch jobs of `path` ([[Snapshot.jobs]]). */
  def loadJobs(path: Path): List[JObject] = read(path).jobs

  /** Run every batch job in the file: read `input` parquet, fold the
    * job's `pipeline` through [[applyOp]] on the batch frame, write
    * `output` parquet (`mode` defaults to overwrite — a planning pass
    * is re-runnable by design). Returns (name, rows written) per job,
    * in file order. The SAME op compiler serves both faces, so a
    * pipeline op behaves identically in a job and in a stream. */
  def runJobs(spark: SparkSession, path: Path): Seq[(String, Long)] =
    loadJobs(path).map { job =>
      val a = new Args(job, str(job \ "name", "job.name"))
      val out = a.objs("pipeline").foldLeft(spark.read.parquet(a.str("input")))(
        applyOp)
      val target = a.str("output")
      // report rows WRITTEN, not rows-at-path (an "append" run must not
      // count pre-existing output), without recomputing the pipeline:
      // the write materializes the cache, the count then reads it
      val cached = out.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cached.write.mode(a.str("mode", "overwrite")).parquet(target)
        a.at -> cached.count()
      } finally { cached.unpersist(); () }
    }

  private def wrongType(what: String, v: JValue) =
    new IllegalArgumentException(s"$what: got $v")

  private[graft] def str(v: JValue, what: String): String = v match {
    case JString(s) => s
    case other => throw wrongType(what, other)
  }

  private[graft] def num(v: JValue, what: String): Double = v match {
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case JDouble(n) => n
    case JDecimal(n) => n.toDouble
    case other => throw wrongType(what, other)
  }

  /** The JSON boolean, or EXACTLY the string "true"/"false". Anything
    * else ("True", "yes", 1, …) throws — this guards security flags
    * like tlsclientauth, where a typo'd value silently reading as false
    * would disable client-cert verification. */
  private def bool(v: JValue, what: String): Boolean = v match {
    case JBool(b) => b
    case JString("true") => true
    case JString("false") => false
    case other => throw wrongType(what, other)
  }

  private def obj(v: JValue, what: String): JObject = v match {
    case o: JObject => o
    case other => throw wrongType(what, other)
  }

  private def elems(v: JValue, what: String): List[JValue] = v match {
    case JArray(vs) => vs
    case other => throw wrongType(what, other)
  }

  /** The argument rule every config value follows: a key that is
    * absent (or `null`) takes its default; a key present with the
    * wrong type fails the load with a message naming it, e.g.
    * `index.watermark: got JInt(30)`. `at` is the object's place in the
    * file (an op name, `servers.tcp`, a stream name; empty for a file's
    * top level) and prefixes every key it names. */
  private[graft] final class Args(val json: JObject, val at: String) {
    private def key(k: String) = if (at.isEmpty) k else s"$at.$k"

    def opt[A](k: String)(parse: (JValue, String) => A): Option[A] =
      json \ k match {
        case JNothing | JNull => None
        case v => Some(parse(v, key(k)))
      }

    def str(k: String): String = ConfigFile.str(json \ k, key(k))
    def str(k: String, dflt: => String): String = strOpt(k).getOrElse(dflt)
    def strOpt(k: String): Option[String] = opt(k)(ConfigFile.str)
    def num(k: String): Double = ConfigFile.num(json \ k, key(k))
    def num(k: String, dflt: Double): Double = numOpt(k).getOrElse(dflt)
    def numOpt(k: String): Option[Double] = opt(k)(ConfigFile.num)
    def int(k: String): Int = num(k).toInt
    def int(k: String, dflt: Int): Int = numOpt(k).fold(dflt)(_.toInt)
    def long(k: String): Long = num(k).toLong
    def long(k: String, dflt: Long): Long = numOpt(k).fold(dflt)(_.toLong)
    def bool(k: String, dflt: Boolean): Boolean =
      opt(k)(ConfigFile.bool).getOrElse(dflt)

    /** An array of strings; absent is empty. */
    def strings(k: String): List[String] = opt(k)((v, w) =>
      elems(v, w).map(ConfigFile.str(_, s"$w entries"))).getOrElse(Nil)

    /** An array of objects; absent is empty. */
    def objs(k: String): List[JObject] = opt(k)((v, w) =>
      elems(v, w).map(ConfigFile.obj(_, s"$w entries"))).getOrElse(Nil)

    def obj(k: String): Option[Args] =
      opt(k)((v, w) => new Args(ConfigFile.obj(v, w), w))

    /** Every field, each an object. */
    def objectFields: List[(String, Args)] =
      json.obj.map { case (k, v) => k -> new Args(ConfigFile.obj(v, key(k)), key(k)) }

    /** An object of strings, as its fields; absent is empty. */
    def strMap(k: String): List[(String, String)] = obj(k).fold(
      List.empty[(String, String)])(o => o.json.obj.map { case (f, v) =>
        f -> ConfigFile.str(v, o.key(f)) })
  }

  /** Static-side relations for the stream-static ops (asof/enrich
    * interval tables, the crosscorpus banded reference), persisted
    * ONCE per (context, table version, op params) — without this
    * every micro-batch re-executes the static subtree: re-scans the
    * reference parquet, re-runs the asof window function or the full
    * minhash banding of the reference corpus, and only then rebuilds
    * the broadcast. On a decontamination stream against a large
    * benchmark corpus that re-computation per 5-second trigger IS the
    * scale bug; the r18 mixed-workload soak surfaced it as the enrich
    * leg starving hardest under contention. The table version is the
    * max file mtime under the path, so refreshing the reference
    * (new files) + a reload picks up the new snapshot while the
    * running query keeps its pinned one. Bounded: past [[MaxStatics]]
    * the oldest entry is unpersisted (a query still referencing it
    * just recomputes per batch — the pre-cache behavior). */
  private val MaxStatics = 32
  private val staticCache = TrieMap[(String, Any, Long), DataFrame]()
  private val staticOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Any, Long)]()

  /** Max file mtime under `path`, RECURSIVELY: a table partitioned two
    * or more levels deep (table/a=1/b=2/part-*) only bumps the leaf
    * directory's mtime when files are added, so a top-level listing
    * would keep serving a stale cache key after a nested-partition
    * refresh (r18 ADVICE). listFiles walks to the leaves. */
  private def tableVersion(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var max = 0L
      while (it.hasNext) {
        val t = it.next().getModificationTime
        if (t > max) max = t
      }
      max
    } catch { case NonFatal(_) => 0L }

  /** `key` identifies the derivation (op kind, table path, op params);
    * `version` is the table snapshot ([[tableVersion]]). Inserting a
    * NEW version proactively unpersists and drops every entry with the
    * same key but a STRICTLY OLDER version — a frequently refreshed
    * reference corpus must not pin its superseded persisted copies
    * until FIFO displacement (r18 ADVICE). `version == 0L` is
    * [[tableVersion]]'s listing-failure sentinel (r19 ADVICE): a
    * transient FS error at reload must neither unpersist the live
    * pinned snapshot (running queries would silently fall back to
    * per-batch recomputation of the reference scan — the exact scale
    * bug this cache prevents) nor mint a duplicate persisted copy
    * under 0; on the sentinel, the newest cached snapshot for the key
    * is served instead. */
  private[graft] def cachedStatic(spark: SparkSession, key: Any,
      version: Long)(mk: => DataFrame): DataFrame = synchronized {
    val k = (spark.sparkContext.applicationId, key, version)
    staticCache.get(k) match {
      case Some(df) => df
      case None =>
        val sentinelFallback =
          if (version != 0L) None
          else staticCache.keys.filter(o => o._1 == k._1 && o._2 == k._2)
            .toSeq.sortBy(_._3).lastOption.map(staticCache(_))
        sentinelFallback.getOrElse {
          staticCache.keys.filter(o => o._1 == k._1 && o._2 == k._2 &&
              o._3 < version).foreach { old =>
            staticOrder.remove(old)
            staticCache.remove(old).foreach { df =>
              try { df.unpersist(); () } catch { case NonFatal(_) => () }
            }
          }
          while (staticOrder.size >= MaxStatics) {
            val old = staticOrder.poll()
            staticCache.remove(old).foreach { df =>
              try { df.unpersist(); () } catch { case NonFatal(_) => () }
            }
          }
          val df = mk.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          staticCache(k) = df
          staticOrder.add(k)
          df
        }
    }
  }

  /** Test hook: current static-cache entry count. */
  private[graft] def staticCacheSize: Int = staticCache.size

  /** The tags column if the source carries one (null read as empty),
    * else an empty array — a sourceless/stripped stream must not fail
    * ANALYSIS on a tag op (the reference treats a tagless event as
    * having no tags). */
  private def tags(df: DataFrame) =
    if (df.columns.contains("tags")) coalesce(col("tags"), array())
    else lit(Array.empty[String])

  /** Stream side of the asof/enrich ops: the events' `time` timestamp
    * becomes seconds for the interval arithmetic, the stateless
    * stream-static join runs, the helper column drops, and the match
    * start surfaces as the op's `"as"` column (default `asof_time_s`;
    * chaining two asof/enrich ops in one stream REQUIRES distinct
    * names or the duplicate column is rejected here instead of
    * surfacing as a downstream AMBIGUOUS_REFERENCE). The helper column
    * is namespaced so no event field can be clobbered. */
  private def enrichWith(df: DataFrame, intervals: DataFrame,
      by: Seq[String], a: Args): DataFrame = {
    val timeAs = a.str("as", "asof_time_s")
    require(!df.columns.contains(timeAs),
      s"enrich/asof output column '$timeAs' already exists on the " +
        "stream (chained asof/enrich ops?) — set a distinct \"as\" " +
        "name on the op")
    // every payload output (asof_<field>) must also be fresh: two
    // chained asof/enrich ops sharing a payload field name would emit
    // duplicate asof_<field> columns and fail downstream with
    // AMBIGUOUS_REFERENCE; catch it here with an actionable message
    val payloadOut = intervals.schema("asof_payload").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq.map(f => s"asof_$f")
    payloadOut.foreach { c =>
      require(!df.columns.contains(c),
        s"enrich/asof payload output column '$c' already exists on the " +
          "stream (chained asof/enrich ops sharing a payload field " +
          "name?) — rename the field in this op's interval payload")
      require(c != timeAs,
        s"enrich/asof \"as\" name '$timeAs' collides with this op's own " +
          s"payload output '$c' — set a distinct \"as\" name")
    }
    val t = "__graft_asof_t"
    require(!df.columns.contains(t), s"reserved column $t on input")
    graft.streaming.StreamingAsOf.enrich(
        df.withColumn(t, unix_seconds(col("time"))),
        intervals, by, t, a.long("bin"))
      .withColumnRenamed(s"asof_$t", timeAs)
      .drop(t)
  }

  /** The columns an op reads must be on its input. */
  private def need(df: DataFrame, a: Args, cols: String*): Unit =
    require(cols.forall(df.columns.contains),
      s"${a.at} op needs ${cols.map(c => s"`$c`").mkString(" and ")} " +
        "column(s) on its input")

  /** Corpus-level planners need the whole corpus: batch jobs only. */
  private def batchOnly(df: DataFrame, a: Args): Unit =
    require(!df.isStreaming,
      s"${a.at} is a corpus-level planner — run it in a batch job")

  /** The event-time watermark delay of a windowed or index op. */
  private def watermark(a: Args): String = a.str("watermark", "0 seconds")

  /** The index op's watermark delay, "0 seconds" when absent. */
  def indexWatermark(op: JObject): String = watermark(new Args(op, "index"))

  /** MinHash-LSH parameters shared by neardup and crosscorpus. */
  private final case class MinHash(k: Int, bands: Int, w: Int,
      threshold: Double, maxBucket: Int)

  private def minHash(a: Args) = MinHash(a.int("k", 16), a.int("bands", 4),
    a.int("w", 3), a.num("threshold", 0.5),
    a.int("maxBucket", graft.pipeline.Caps.DefaultMaxBucket))

  /** A model-taking op's model: the persisted artifact at `"model"`, or
    * trained once from the `"train"` corpus and cached at `"artifact"`
    * (re-trained only on config/corpus drift). */
  private def model[M](df: DataFrame, a: Args,
      load: (SparkSession, String) => M, train: (DataFrame, String) => M): M =
    a.strOpt("model") match {
      case Some(p) => load(df.sparkSession, p)
      case None => train(df.sparkSession.read.parquet(a.str("train")),
        a.str("artifact"))
    }

  /** `window` and `rate`: a watermarked tumbling event-time aggregation
    * of `field` per `seconds` × `by`, in the (by, time, metric) shape. */
  private def windowAgg(df: DataFrame, a: Args, aggName: String): DataFrame = {
    val secs = a.num("seconds")
    val by = a.strings("by")
    val wm = watermark(a)
    val field = a.str("field", "metric")
    if (aggName == "distinct") {
      // approximate distinct-count of `field` per window × by —
      // exact count(DISTINCT) is unsupported on streams, so this
      // is THE way to ask "how many distinct hosts per service":
      // the deterministic HLL sketch rolled up through chained
      // stateful aggregations (bounded state, ~13% sigma at the
      // default precision)
      graft.pipeline.Sketches.streamingDistinct(df, "time",
          s"${secs.toLong} seconds", by, field, watermark = wm)
        .select(by.map(col) :+ col("window_start").as("time") :+
          col("hll_est").as("metric"): _*)
    } else if (aggName.matches("p\\d{2,3}")) {
      // approximate quantile of `field` per window × by ("p95" =
      // 95th percentile, "p999" = 99.9th) — the reference's
      // percentiles op buffers and sorts every event in the
      // window (streams.clj sorted-sample); the HDR quantile
      // sketch answers in bounded additive state with <= 2^-5
      // relative under-error. Metric domain: non-negative, at
      // milli resolution (scaled to longs, estimate scaled back)
      val digits = aggName.drop(1)
      val qMilli =
        if (digits.length == 2) digits.toInt * 10 else digits.toInt
      // reject ambiguous forms: "p100" would parse as per-mille
      // 100 (the 10th percentile) when the user almost certainly
      // meant the max, and 3-digit values <= 100 ("p050") collide
      // with the 2-digit reading. 2-digit = whole percentile
      // (p95); 3-digit = per-mille and must exceed 100 (p999 =
      // 99.9th). The maximum is agg "max", not a percentile.
      if (qMilli < 1 || qMilli > 999 ||
          (digits.length == 3 && qMilli <= 100))
        throw new IllegalArgumentException(
          s"window.agg: $aggName is ambiguous — use pNN for whole " +
          "percentiles (p95), pNNN > 100 for per-mille (p999 = " +
          "99.9th), or agg \"max\" for the maximum")
      graft.pipeline.Sketches.streamingQuantiles(df, "time",
          s"${secs.toLong} seconds", by,
          floor(col(field) * 1000).cast("long"), Seq(qMilli),
          watermark = wm)
        .select(by.map(col) :+ col("window_start").as("time") :+
          (col("hdr_est").cast("double") / lit(1000.0)).as("metric"): _*)
    } else {
      val agg = aggName match {
        // riemann's rate (streams.clj:841-883): the interval's summed
        // metric per second, as Windows.rate computes it
        case "rate" => sum(col(field)) / lit(secs)
        case "sum" => sum(col(field))
        case "mean" => avg(col(field))
        case "count" => count(col(field)).cast("double")
        case "max" => max(col(field))
        case "min" => min(col(field))
        case other =>
          throw new IllegalArgumentException(s"window.agg: $other")
      }
      df.withWatermark("time", wm)
        .groupBy(window(col("time"), s"${secs.toLong} seconds") +:
          by.map(col): _*)
        .agg(agg.as("metric"))
        .select(by.map(col) :+ col("window.start").as("time") :+
          col("metric"): _*)
    }
  }

  /** throttle: at most `n` events per (host, service) per `dt`-second
    * event-time bucket (streams.clj:1102-1118), over the frame's own
    * rows: every column rides through with its own type. */
  private def throttle(df: DataFrame, a: Args): DataFrame = {
    val Seq(host, service, time) =
      Seq("host", "service", "time").map(df.schema.fieldIndex)
    StatefulOps.throttleBy[org.apache.spark.sql.Row](df, a.int("n"),
      a.long("dt"), r => (r.getString(host), r.getString(service)),
      _.getTimestamp(time))(Encoders.row(df.schema)).toDF()
  }

  private type Compile = (DataFrame, Args) => DataFrame

  private def op(name: String)(compile: Compile) = name -> compile

  /** Every config op, by name: how it compiles onto a frame. Each op
    * compiles to a Catalyst plan — filters and projections stay
    * codegen'd; windows are watermarked groupBys. docs/config.md's two
    * op tables list the same names (FileConfigSpec holds them equal). */
  private val ops: Map[String, Compile] = Map(
    op("where")((df, a) => df.filter(expr(a.str("expr")))),
    op("query")((df, a) => df.filter(graft.query.QueryLanguage.compile(
      graft.query.QueryLanguage.parse(a.str("q")), df.schema))),
    op("with")((df, a) => a.strMap("set").foldLeft(df) {
      case (d, (k, e)) => d.withColumn(k, expr(e))
    }),
    // fills only where the field is null (or absent)
    op("default")((df, a) => a.strMap("set").foldLeft(df) { case (d, (k, v)) =>
      val e = expr(v)
      d.withColumn(k, if (d.columns.contains(k)) coalesce(col(k), e) else e)
    }),
    op("scale")((df, a) =>
      df.withColumn("metric", col("metric") * a.num("factor"))),
    op("select")((df, a) => df.select(a.strings("cols").map(col): _*)),
    // the tag family (streams.clj:1284-1330, 1463-1488)
    op("tag")((df, a) => df.withColumn("tags",
      array_union(tags(df), lit(a.strings("tags").toArray)))),
    op("untag")((df, a) => df.withColumn("tags",
      array_except(tags(df), lit(a.strings("tags").toArray)))),
    op("tagged-all")((df, a) => df.filter(a.strings("tags")
      .map(t => array_contains(tags(df), t))
      .reduceOption(_ && _).getOrElse(lit(true)))),
    op("tagged-any")((df, a) =>
      df.filter(arrays_overlap(tags(df), lit(a.strings("tags").toArray)))),
    op("over")((df, a) => df.filter(col("metric") > a.num("x"))),
    op("under")((df, a) => df.filter(col("metric") < a.num("x"))),
    op("throttle")(throttle),
    op("window")((df, a) => windowAgg(df, a, a.str("agg"))),
    op("rate")((df, a) => windowAgg(df, a, "rate")),
    // gap-based sessions per `by` keys: one row per CLOSED session
    // carrying (time = session start, metric = event count) — native
    // session_window, so the same op works in batch test mode and on
    // the live stream
    op("sessionize")((df, a) => {
      val by = a.strings("by")
      graft.operators.Temporal.sessionize(
          df.withWatermark("time", watermark(a)), by, "time",
          s"${a.long("gap")} seconds")
        .select(by.map(col) :+
          timestamp_seconds(col("session_start_s")).as("time") :+
          col("n_events").cast("double").as("metric"): _*)
    }),
    // the latest static reference record at-or-before each event (per
    // key): StreamingAsOf's STATELESS validity-interval form — no
    // state store, restart-safe
    op("asof")((df, a) => {
      val spark = df.sparkSession
      val by = a.strings("by")
      val tcol = a.str("timeCol", "time_s")
      val table = a.str("table")
      val fields = a.strings("fields")
      val maxV = a.long("maxValidity")
      val iv = cachedStatic(spark, ("asof-iv", table, by, tcol, fields,
          maxV), tableVersion(spark, table)) {
        graft.streaming.StreamingAsOf.validityIntervals(
          spark.read.parquet(table), by, tcol, fields, maxV)
      }
      enrichWith(df, iv, by, a)
    }),
    // arbitrary static validity intervals (maintenance windows, deploy
    // freezes — explicit [start, end) second columns): the same
    // stateless stream-static interval join
    op("enrich")((df, a) => {
      val spark = df.sparkSession
      val by = a.strings("by")
      val table = a.str("table")
      val startCol = a.str("startCol")
      val endCol = a.str("endCol")
      val fields = a.strings("fields")
      val iv = cachedStatic(spark, ("enrich-iv", table, by, startCol,
          endCol, fields), tableVersion(spark, table)) {
        graft.streaming.StreamingAsOf.intervalsOf(
          spark.read.parquet(table), by, startCol, endCol, fields)
      }
      enrichWith(df, iv, by, a)
    }),
    // Gopher-rules quality gate over a `text` column (the curation
    // firehose's first stage): one narrow codegen'd kernel filter
    op("quality")((df, a) => {
      val minW = a.int("minWords", 50)
      val maxW = a.int("maxWords", 100000)
      need(df, a, "text")
      graft.pipeline.TextAnalysis.gopherKeep(df, minW, maxW)
    }),
    // annotate (predicted_lang, nb_score) from the NB classifier — one
    // narrow codegen'd projection, stateless on a stream
    op("langid")((df, a) => {
      need(df, a, "text")
      graft.pipeline.TextAnalysis.langIdAnnotate(df, model(df, a,
        graft.pipeline.Models.loadLangId,
        graft.pipeline.Models.loadOrTrainLangId(_, _)))
    }),
    // exact dedup on content hash. Streaming keeps the FIRST arrival
    // per hash inside the watermark horizon (state bounded by the
    // window, the long tail belongs to the periodic batch pass); the
    // batch face keeps one row per distinct text.
    op("dedup")((df, a) => {
      val hz = a.str("horizon", "1 hour")
      need(df, a, "text")
      if (df.isStreaming) {
        need(df, a, "time")
        graft.pipeline.Dedup.streamingExact(df, "time", hz)
          .drop("content_hash")
      } else df.dropDuplicates(Seq("text"))
    }),
    // minhash-LSH near-duplicate PAIRS (doc_a, doc_b, est_jaccard). Both
    // faces share the signature kernels and the ONE band/bucket formula
    // (Dedup.bandExplodeExpr), so a pair the stream emits is a pair the
    // batch join finds on the same horizon's corpus.
    op("neardup")((df, a) => {
      val m = minHash(a)
      val hz = a.long("horizon", 3600L)
      need(df, a, "doc_id", "text")
      if (df.isStreaming) {
        need(df, a, "time")
        graft.streaming.StreamingNearDup(df, "time", hz, m.k, m.bands, m.w,
          m.threshold, m.maxBucket).toDF()
          .select("doc_a", "doc_b", "est_jaccard")
      } else graft.pipeline.Dedup.minhashPairs(df, m.k, m.bands,
        m.threshold, m.w, m.maxBucket).select("doc_a", "doc_b", "est_jaccard")
    }),
    // annotate token counts from the BPE tokenizer — the merges reach
    // the codegen'd BpeCountExpr kernel via a broadcast stub, so this
    // is a pure narrow per-doc projection
    op("tokens")((df, a) => {
      need(df, a, "text")
      val merges = model(df, a, graft.pipeline.Models.loadBpe,
        graft.pipeline.Models.loadOrTrainBpe(_, _))
      val helper = "__graft_bpe_c"
      require(!df.columns.contains(helper),
        s"reserved column $helper on input")
      df.withColumn(helper, org.apache.spark.sql.graft.ColumnBridge
          .column(graft.pipeline.BpeCountExpr(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              col("text")),
            graft.pipeline.Bpe.broadcastMerges(df.sparkSession, merges))))
        .withColumn("n_pretokens", col(s"$helper.n_pretokens"))
        .withColumn("n_bpe_tokens", col(s"$helper.n_bpe_tokens"))
        .drop(helper)
    }),
    op("cap")((df, a) => {
      batchOnly(df, a)
      need(df, a, "source")
      graft.pipeline.Curation.sourceCap(df, a.int("maxPerSource"),
        a.str("orderCol", "doc_id"))
    }),
    // deterministic train/val/test assignment — a narrow hash
    // projection, so it also drops into a streaming pipeline; "keep"
    // filters to one split in place
    op("split")((df, a) => {
      val out = graft.pipeline.Curation.splitAssign(df,
        a.num("trainFrac", 0.9), a.num("valFrac", 0.05),
        a.str("idCol", "doc_id"))
      a.strOpt("keep").fold(out) { s =>
        require(Set("train", "val", "test")(s),
          s"split.keep must be train|val|test, got '$s'")
        out.filter(col("split") === s)
      }
    }),
    op("pack")((df, a) => {
      batchOnly(df, a)
      need(df, a, "text", "lang")
      graft.pipeline.Curation.packSequences(df, a.int("budget"),
        a.int("nShards", 8), a.str("orderCol", "doc_id"))
    }),
    op("sample")((df, a) => {
      batchOnly(df, a)
      val by = a.str("by", "source")
      need(df, a, by, "doc_id")
      graft.pipeline.Curation.temperatureSample(df, a.num("alpha", 0.5),
        a.num("targetFrac", 0.5), by)
    }),
    op("mixture")((df, a) => {
      batchOnly(df, a)
      val by = a.str("by", "source")
      need(df, a, by, "text")
      graft.pipeline.Curation.mixturePlan(df, a.long("budgetTokens"),
        a.num("alpha", 0.5), a.num("maxEpochs", 1.0), by)
    }),
    // near-dup vs a STATIC reference corpus — the decontamination stage
    // run continuously. The reference's banded relation is built once
    // per (re)compile; each micro-batch stream-static equi-joins it on
    // (band, bucket), stateless and restart-safe.
    op("crosscorpus")((df, a) => {
      val spark = df.sparkSession
      need(df, a, "text", "doc_id", "time")
      val m = minHash(a)
      val table = a.str("table")
      val refB = cachedStatic(spark, ("xc-ref", table, m.k, m.bands, m.w,
          m.maxBucket), tableVersion(spark, table)) {
        graft.streaming.StreamingCrossCorpus.referenceBanded(
          spark.read.parquet(table), m.k, m.bands, m.w, m.maxBucket)
      }
      val matches = graft.streaming.StreamingCrossCorpus.matches(
        df, refB, "time", m.k, m.bands, m.w, m.threshold)
      a.str("mode", "match") match {
        case "drop" =>
          // keep only UNcontaminated rows: per-doc "no qualifying
          // match" needs an aggregation over the match evidence, which
          // a stateless stream cannot express — the firehose emits
          // matches and the periodic batch pass owns the removal
          require(!df.isStreaming,
            "crosscorpus \"mode\":\"drop\" is batch-only (per-doc " +
              "aggregation); stream \"mode\":\"match\" and filter in " +
              "the periodic batch pass")
          df.join(matches.select(col("new_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        case "match" =>
          matches.select("new_id", "ref_id", "est_jaccard", "band")
        case other => throw new IllegalArgumentException(
          s"crosscorpus.mode: expected \"match\" or \"drop\", got \"$other\"")
      }
    }),
    // the index keeps whole events, so a frame's tags and attributes
    // answer `tagged "x"` and attribute queries — the reference's index
    // stores whole events (index.clj:58-126)
    op("index")((df, a) => KeyedIndex(WireEvent.from(df), watermark(a)).toDF())
  )

  /** The op names [[applyOp]] knows. */
  private[graft] def opNames: Set[String] = ops.keySet

  /** Compile one op onto a DataFrame. Separate from the chain so specs
    * can exercise ops individually on batch frames (every op except
    * index/window is batch-streaming agnostic). */
  def applyOp(df: DataFrame, op: JObject): DataFrame = {
    val name = str(op \ "op", "op")
    val compile = ops.getOrElse(name, throw new IllegalArgumentException(
      s"unknown op: $name (known: ${ops.keys.toSeq.sorted.mkString(", ")})"))
    compile(df, new Args(op, name))
  }

  def compilePipeline(df: DataFrame, stream: JObject): DataFrame =
    new Args(stream, "stream").objs("pipeline").foldLeft(df)(applyOp)

  /** A stream's sink spec; a stream without one prints to the console. */
  private[graft] def sinkOf(stream: JObject): Args = {
    val name = str(stream \ "name", "stream.name")
    new Args(stream, name).obj("sink").getOrElse(
      new Args(JObject("kind" -> JString("console")), s"$name.sink"))
  }

  /** The output mode a stream's query runs in, "append" by default. */
  private[graft] def outputMode(stream: JObject): String =
    sinkOf(stream).str("outputMode", "append")

  /** A sink kind the host provides. `make` gets the stream's name, its
    * sink spec and, when `absorbs` names the op the stream's pipeline
    * ends in, that op: the Loader then compiles the pipeline without
    * it, and the sink does the op's work on each batch itself. */
  final case class SinkKind(
      make: (String, JObject, Option[JObject]) => Sinks.EventSink,
      absorbs: Option[String] = None)

  /** File-driven Core assembly with reload. `sources` maps config
    * source names to streaming DataFrames (servers, kafka, testkit
    * MemoryStreams — transports are injected, as everywhere);
    * `sinkFactories` maps extra sink kinds to their [[SinkKind]].
    *
    * '''Fan-out contract''' (the reference's core semantic: every
    * registered stream sees every event, `src/riemann/core.clj:15-20`):
    * several config streams may name the SAME source. Most streaming
    * sources are single-consumer — two independent StreamingQueries
    * over one MemoryStream race on commit-trim (whichever commits
    * first destroys the batch for the other), and an ingest server
    * binds one socket — so when a source has two or more subscribers
    * the Loader inserts a '''tee''': ONE streaming query consumes the
    * source (the thunk is invoked once, so one server instance, one
    * bind), collects each micro-batch to the driver once and appends
    * it to every live subscriber's in-memory [[FanoutBuffer]]; each
    * subscriber then runs as its own full StreamingQuery over its
    * buffer — watermarks, stateful ops, and checkpoints all behave
    * exactly as on a direct source, and a subscriber's filters fold
    * into its buffer scan. Delivery is exactly-once per subscriber:
    * the tee's checkpoint serializes batches, and a tee restarted on
    * it replays its last batch under the same id, which each buffer
    * ignores. The buffers hold a bounded number of rows
    * ([[FanoutBuffer.Capacity]]): the tee waits for a subscriber that
    * lags that far behind, the backpressure the ingest servers apply
    * to their clients. A stopped or removed subscriber's buffer is
    * dropped and never blocks the tee.
    *
    * Across process death, fan-out has the contract of its source: the
    * buffers and the tee's checkpoint (under a temporary directory
    * made on the first tee) die with the process. The ingest servers
    * hold acked frames only in memory too. A source listed in
    * `replayable` skips the tee: each subscriber invokes the thunk
    * itself (kafka-style sources track per-query offsets and fan out
    * natively — at scale the durable bus IS the tee).
    *
    * Buffers are keyed by the subscriber's signature, so an EDITED
    * stream starts on a fresh buffer and sees only events ingested
    * after its restart — riemann's restart-loses-state reload
    * semantics (pure.clj:1-30), not a replay of history.
    *
    * Subscriber-set changes update the running tee's buffer map
    * without restarting it; once fanned, a source stays teed while it
    * keeps any subscriber (dropping to one must not restart the
    * survivor). A source crossing the 1→2 subscriber boundary restarts
    * the previously-direct stream (its input plan changes), and data
    * the source still RETAINS at that transition may be re-delivered
    * by the fresh tee — at-least-once across topology transitions, the
    * same contract as the server sources' restart handoff. */
  final class Loader(core: Core, spark: SparkSession, path: Path,
      sources0: Map[String, () => DataFrame],
      sinkFactories: Map[String, SinkKind] = Map.empty,
      replayable: Set[String] = Set.empty) {

    /** Sources that fan out natively (file/kafka-style: every query
      * tracks its own offsets, so N subscribers need no tee) — LIVE
      * set, consulted on every [[reload]]: a host that derives it from
      * the config file ([[graft.Main]]'s `files` protocol + the
      * `fanout.replayable` list) updates it before reloading.
      * Initialized from the constructor's `replayable`. */
    @volatile var replayableSources: Set[String] = replayable

    /** Config source names → streaming-DataFrame thunks. Mutable so a
      * host ([[graft.Main]]) can swap in thunks rebuilt from the edited
      * file before [[reload]] — an ingest-server block change (port,
      * TLS) re-points the source, and the salted signature below
      * restarts exactly the streams bound to it. */
    @volatile var sources: Map[String, () => DataFrame] = sources0

    /** Extra per-SOURCE signature salt mixed into each stream's
      * signature: source name → salt (empty for unknown names). A host
      * that rebuilds [[sources]] on reload sets this to the canonical
      * JSON of each source's server block, so editing a server block
      * makes its streams non-equiv — they restart, and the restart is
      * what closes the old socket and binds the new one (the
      * reference restarts non-equiv services on reload,
      * core.clj:105-161). */
    @volatile var sourceSignature: String => String = _ => ""

    /** Per-stream-name memory sinks, stable across reloads so a
      * restarted query keeps appending where readers are looking. */
    val memorySinks = TrieMap[String, Sinks.MemorySink]()
    private var current: Set[String] = Set.empty

    /** source name → (subscriber signature → buffer). The running tee
      * reads this volatilely each micro-batch, so subscriber-set
      * changes take effect without restarting the tee. */
    @volatile private var fanoutSubs
        : Map[String, Map[String, FanoutBuffer]] = Map.empty

    /** Sources whose tee is live — sticky while the source keeps any
      * subscriber (see [[reload]]). */
    private var stickyFanned: Set[String] = Set.empty

    private def teeName(source: String) = s"__fanout__$source"

    // removed at JVM exit, as Spark removes its own temporary dirs
    private lazy val teeRoot = {
      val d = Files.createTempDirectory("graft-tee")
      sys.addShutdownHook(deleteRecursively(d.toFile))
      d
    }

    /** Where `source`'s tee keeps its checkpoint while it is teed: a
      * tee restarted in-process resumes from it. */
    private[graft] def teeCheckpoint(source: String): Path =
      teeRoot.resolve(source)

    private def deleteRecursively(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty)
        .foreach(deleteRecursively)
      f.delete(); ()
    }

    private def buildTee(source: String): DataStreamWriter[_] = {
      val src = sources.getOrElse(source,
        throw new IllegalArgumentException(
          s"fan-out tee: unknown source '$source'"))
      src().writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val subs = fanoutSubs.getOrElse(source, Map.empty).values
          if (subs.nonEmpty) {
            // one collect; every subscriber shares the rows
            val rows = batch.queryExecution.executedPlan.executeCollect()
            if (rows.nonEmpty) subs.foreach(_.offer(batchId, rows))
          }
        }
        .option("checkpointLocation", teeCheckpoint(source).toString)
    }

    private def build(stream: JObject,
        input: () => DataFrame): DataStreamWriter[_] = {
      val a = new Args(stream, str(stream \ "name", "stream.name"))
      val name = a.at
      val sink = sinkOf(stream)
      val kind = sink.str("kind")
      val ops = a.objs("pipeline")
      val absorbed = ops.lastOption.filter(o => sinkFactories.get(kind)
        .flatMap(_.absorbs).exists(op => (o \ "op") == JString(op)))
      val kept = if (absorbed.isEmpty) ops else ops.init
      val out = kept.foldLeft(input())(applyOp)
      // the absorbed op is still analysed here, so a bad op fails this
      // load exactly as it would compiled into the pipeline
      absorbed.foreach(applyOp(out, _))
      val writer = kind match {
        case "memory" =>
          Sinks.attach(out,
            memorySinks.getOrElseUpdate(name, new Sinks.MemorySink))
        case "console" => out.writeStream.format("console")
        case _ =>
          val factory = sinkFactories.getOrElse(kind,
            throw new IllegalArgumentException(s"$name: unknown sink '$kind'"))
          Sinks.attach(out, factory.make(name, sink.json, absorbed))
      }
      val moded = writer.outputMode(outputMode(stream))
      val w = sink.strOpt("checkpoint")
        .fold(moded)(moded.option("checkpointLocation", _))
      // per-stream trigger (r18 VERDICT #7 — the reference's scheduler
      // flushes at 0.1 s granularity, time.clj:73-75, while Spark's
      // default micro-batch cadence is as-fast-as-possible):
      //   {"trigger": {"processingTime": "1 second"}} — fixed cadence
      //   {"trigger": {"availableNow": true}}         — drain-and-stop
      // availableNow queries terminate once caught up; the next reload
      // sees the terminated query as non-equiv and restarts it, so a
      // SIGHUP doubles as "drain again" for batch-style streams. The
      // trigger lives in the stream's JSON subtree, so editing it
      // restarts exactly that stream.
      a.obj("trigger").fold(w) { t =>
        import org.apache.spark.sql.streaming.Trigger
        (t.strOpt("processingTime"), t.opt("availableNow")(bool)) match {
          case (Some(interval), None) =>
            w.trigger(Trigger.ProcessingTime(interval))
          case (None, Some(true)) => w.trigger(Trigger.AvailableNow())
          case _ => throw new IllegalArgumentException(
            s"$name.trigger: expected {\"processingTime\": \"<interval>\"}" +
              " or {\"availableNow\": true}, got " +
              JsonMethods.compact(JsonMethods.render(t.json)))
        }
      }
    }

    /** Re-register every stream of `config` (signature = its canonical
      * JSON subtree; by default the file is read afresh), drop streams
      * no longer present, and transition the Core: only added/changed
      * streams (re)start — bin.clj:39-77's reload on the
      * transition!/equiv? lifecycle. Returns the (re)started names. */
    def reload(config: Snapshot = read(path)): Seq[String] = synchronized {
      // last definition of a name wins — the include-shadowing contract
      // [[Snapshot.streams]] documents (includer concatenates after its
      // includes, so it shadows them; a diamond include's repeated
      // streams collapse to one). LinkedHashMap keeps first-seen order
      // while the value updates to the last definition.
      val streams = scala.collection.mutable.LinkedHashMap.empty[String, JObject]
      config.streams.foreach { s =>
        val n = str(s \ "name", "stream.name")
        if (streams.contains(n))
          log.warn(s"stream '$n': a later definition shadows an included " +
            "one (include-shadowing contract); the earlier definition " +
            "will not run")
        streams(n) = s
      }
      val names = streams.keys.toSeq
      // "source" is a name or an ARRAY of names — the reference's own
      // sample config feeds ONE (streams ...) topology from tcp + udp +
      // graphite simultaneously (config/riemann.config:6-28 via
      // core.clj:15-20 stream!), and splitting that per transport would
      // split its keyed state. A multi-source stream unions its inputs
      // by column name (missing columns null-filled — transports decode
      // to different shapes) into ONE query and ONE state store.
      def sourcesOf(s: JObject): Seq[String] = {
        val name = str(s \ "name", "stream.name")
        (s \ "source") match {
          case JString(src) => Seq(src)
          case JArray(vs) =>
            val srcs = vs.map(str(_, s"$name.source entries"))
            if (srcs.isEmpty) throw new IllegalArgumentException(
              s"$name.source: at least one source required")
            val dups = srcs.diff(srcs.distinct).distinct
            if (dups.nonEmpty) throw new IllegalArgumentException(
              s"$name.source lists ${dups.mkString(", ")} twice")
            srcs
          case other => throw new IllegalArgumentException(
            s"$name.source: expected a name or array of names, got $other")
        }
      }
      def baseSig(s: JObject): String =
        JsonMethods.compact(JsonMethods.render(s)) +
          sourcesOf(s).map(sourceSignature).mkString
      // sources with >= 2 subscribers get a tee (unless declared
      // replayable — those fan out natively, one consumer each). Once
      // fanned, a source stays teed while it has ANY subscriber:
      // dropping from two subscribers to one must not restart the
      // survivor (reload only restarts what changed), and the tee has
      // already consumed the single-consumer source anyway. A
      // multi-source stream counts as a subscriber of EACH source it
      // names; a source with only one subscriber feeds that stream's
      // union directly (one query per single-consumer source either way)
      val fanned: Map[String, Seq[String]] = streams.toSeq
        .flatMap { case (n, s) => sourcesOf(s).map(_ -> n) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        .collect { case (src, subs)
            if !replayableSources.contains(src) &&
              (subs.size >= 2 || (stickyFanned(src) && subs.nonEmpty)) =>
          src -> subs
        }
      // everything throw-prone first: resolve + schema-probe every
      // fanned source before any mutation (thunk invocation is
      // side-effect-free; sources bind at query start) — a failed
      // reload must leave stickiness untouched too. A subscriber's
      // buffer carries its source's schema.
      val schemas = fanned.map { case (src, _) =>
        src -> sources.getOrElse(src, throw new IllegalArgumentException(
          s"fan-out: unknown source '$src'"))().schema
      }
      val unfanned = stickyFanned -- fanned.keySet
      // one buffer per subscriber, keyed by its signature: an edited
      // stream starts on a fresh buffer (sees only post-restart
      // events); a running, unchanged one keeps reading its own
      val subscribers = fanned.toSeq.flatMap { case (src, subs) =>
        subs.map { n =>
          val key = baseSig(streams(n))
          (src, n, key, fanoutSubs.get(src).flatMap(_.get(key))
            .filter(_.isOpen).getOrElse(new FanoutBuffer(schemas(src))))
        }
      }
      val buffers: Map[String, Map[String, FanoutBuffer]] = subscribers
        .groupBy(_._1).view.mapValues(_.map(t => t._3 -> t._4).toMap).toMap
      val teeNames = fanned.keys.map(teeName).toSet
      (current -- names -- teeNames).foreach(core.removeStream)
      // tees register (and therefore start) before their subscribers
      for (src <- fanned.keys)
        core.stream(teeName(src),
          signature = "#fanout-tee:" + src + sourceSignature(src))(
          buildTee(src))
      for ((name, s) <- streams) {
        val srcs = sourcesOf(s)
        val legs: Seq[() => DataFrame] = srcs.map { src =>
          buffers.get(src).map(_(baseSig(s))) match {
            case Some(buffer) => () => buffer.toDF(spark)
            case None => sources.getOrElse(src,
              throw new IllegalArgumentException(
                s"$name: unknown source '$src'"))
          }
        }
        val sig = baseSig(s) +
          srcs.filter(fanned.contains).map("#fanout:" + _).mkString
        // a multi-source stream unions its legs BY NAME (transports
        // decode to different column sets — a tcp event leg and a
        // graphite leg union into the superset, absent columns null):
        // one streaming query, one checkpoint, ONE state store for
        // every stateful op downstream — the property that splitting
        // the stream per transport would break
        val input: () => DataFrame = () => legs.map(_())
          .reduce(_.unionByName(_, allowMissingColumns = true))
        core.stream(name, signature = sig)(build(s, input))
      }
      current = names.toSet ++ teeNames
      // publish the buffer map once every stream is built, BEFORE any
      // stops: a running (equiv) tee starts feeding a restarted
      // subscriber's fresh buffer while the old query drains its old
      // one — no event is delivered to both incarnations, none is lost
      // after the map flip. A stream that fails to build throws before
      // the flip, so the old subscribers keep their buffers. A stopped
      // query closes its buffer; a subscriber whose query did not start
      // has its buffer closed here — neither ever blocks the tee.
      val started = try core.applyConfig(onBuilt = () => fanoutSubs = buffers)
        .filterNot(_.startsWith("__fanout__"))
      finally {
        val active = core.activeQueries
        for ((_, n, _, buffer) <- subscribers
            if !active.get(n).exists(_.isActive)) buffer.close()
      }
      stickyFanned = fanned.keySet
      // a source that left the fanned set has no tee anymore (stopped
      // by the transition above — StreamingQuery.stop joins the
      // micro-batch thread), so its tee checkpoint is dead weight
      unfanned.foreach(src => deleteRecursively(teeCheckpoint(src).toFile))
      started
    }

    /** bin.clj:39-77: SIGHUP → reload. Best-effort (sun.misc.Signal is
      * in jdk.unsupported; absent or sandboxed JVMs just return false
      * and callers fall back to explicit [[reload]]). A failed reload
      * logs and keeps the old topology running — same contract as the
      * reference, which catches and logs config errors on reload
      * rather than killing the core. */
    def installSighup(): Boolean = installSighup(() => { reload(); () })

    /** [[installSighup]] with a custom reload action — [[graft.Main]]
      * passes its full server-aware reload so SIGHUP also rebinds
      * edited ingest sockets, not just the stream topology. */
    def installSighup(action: () => Unit): Boolean =
      try {
        sun.misc.Signal.handle(new sun.misc.Signal("HUP"),
          (_: sun.misc.Signal) =>
            try action()
            catch {
              case NonFatal(e) =>
                System.err.println(s"[config] reload failed: ${e.getMessage}")
            })
        true
      } catch { case NonFatal(_) => false }
  }
}
