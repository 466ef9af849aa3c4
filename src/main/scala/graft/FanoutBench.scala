package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.config.ConfigFile
import graft.streaming.SEvent

/** The fan-out tee's own cost curve (r18 VERDICT #2): SoakCeiling
  * measures each stateful FAMILY's ceiling, but never the tee hop
  * itself. This main measures, for 1 source × N ∈ {1, 2, 4, 8}
  * passthrough subscribers:
  *
  *   - end-to-end THROUGHPUT: K events injected in chunks, wall time
  *     until every subscriber's sink holds all K (N = 1 is the direct
  *     path — no tee — so the N ≥ 2 rows read as "tee + N spools vs
  *     direct");
  *   - end-to-end LATENCY: single-event probes under natural
  *     micro-batch flow (no forced drains), wall time from inject
  *     until ALL N sinks contain the event — the tee adds one spool
  *     write plus one subscriber trigger of latency per hop.
  *
  * Emits one JSON line and appends it to `bench_fanout.json`. The
  * numbers quantify the documented trade: the parquet spool is the
  * local-mode stand-in for a durable bus, so its per-subscriber cost
  * should be linear-ish in N with a fixed per-hop latency tax; a
  * superlinear slope would mean the tee re-materializes per
  * subscriber (it must not — one persist, N hard links).
  *
  * Env: FANOUT_BENCH_EVENTS (default 60000), FANOUT_BENCH_CHUNK
  * (6000), FANOUT_BENCH_PROBES (7), SPARK_GRAFT_CPUS (8).
  */
object FanoutBench {
  def main(args: Array[String]): Unit = {
    val total = sys.env.getOrElse("FANOUT_BENCH_EVENTS", "60000").toInt
    val chunk = sys.env.getOrElse("FANOUT_BENCH_CHUNK", "6000").toInt
    val probes = sys.env.getOrElse("FANOUT_BENCH_PROBES", "7").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
      val in = MemoryStream[SEvent]
      val core = new Core(spark)
      val loader = new ConfigFile.Loader(core, spark, cfg,
        sources0 = Map("in" -> (() => in.toDF())),
        fanoutDir = dir.resolve("fanout"))
      Files.createDirectories(dir.resolve("fanout"))
      try {
        loader.reload()
        def sinkSizes(): Seq[Int] =
          (1 to n).map(i => loader.memorySinks(s"s$i").rows.size())
        // warm-up: codegen + first micro-batch + (for n >= 2) the
        // tee's first spool write
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
    try Files.write(java.nio.file.Paths.get("bench_fanout.json"),
      (json + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case NonFatal(_) => () }
    spark.stop()
  }
}
