package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingWinnowOverlap

/** Streaming winnowing span-overlap: cross-batch evidence, batch
  * parity against `Dedup.winnowOverlapPairs`, horizon eviction,
  * hot-fingerprint saturation, and RocksDB restart recovery —
  * mirroring StreamingNearDupSpec on the shared saturating-bucket
  * kernel. */
class StreamingWinnowOverlapSpec extends SparkSpec {

  private def t(s: Long) = new java.sql.Timestamp(s * 1000)

  // long enough that k=20-char grams overlap across the shared span
  private val shared =
    "a copied paragraph of reasonable length that appears verbatim in both documents"
  private val d1 = s"first document intro. $shared and a first-only tail here"
  private val d2 = s"completely different opening words. $shared trailing text two"
  private val other =
    "unrelated content about distributed stream processing engines and state stores"

  private def run(maxBucket: Int = 1000)(
      feed: (MemoryStream[(Long, String, java.sql.Timestamp)],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit)
      : Map[(Long, Long), Long] = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val name = s"winnow_stream_${System.nanoTime()}"
    val q = StreamingWinnowOverlap(
        input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
        horizonSeconds = 10L, maxBucket = maxBucket)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      feed(input, q)
      // aggregate the evidence like pairs() would (distinct guards
      // against at-least-once replays; fps are unique per doc)
      spark.table(name).select("doc_a", "doc_b", "fp").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  private def batchPairs(corpus: Seq[(Long, String)], minShared: Int = 1)
      : Map[(Long, Long), Long] = {
    val spark0 = spark
    import spark0.implicits._
    graft.pipeline.Dedup.winnowOverlapPairs(
        corpus.toDF("doc_id", "text"), minShared = minShared)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
  }

  test("overlapping docs share evidence across micro-batches; " +
    "unrelated docs don't") {
    val got = run() { (in, q) =>
      in.addData((1L, d1, t(100)), (3L, other, t(100)))
      q.processAllAvailable()
      in.addData((2L, d2, t(105))) // a batch later: pairs via state
      q.processAllAvailable()
    }
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) >= 3) // the copied span yields many shared fps
  }

  test("evidence counts equal the batch winnowOverlapPairs shared " +
    "counts on the same corpus") {
    val corpus = Seq((1L, d1), (2L, d2), (3L, other))
    val streamed = run() { (in, q) =>
      corpus.zipWithIndex.foreach { case ((id, text), i) =>
        in.addData((id, text, t(100 + i)))
        q.processAllAvailable()
      }
    }
    assert(streamed == batchPairs(corpus))
  }

  test("members older than the horizon are evicted: a late overlap " +
    "does not pair") {
    val got = run() { (in, q) =>
      in.addData((1L, d1, t(100)))
      q.processAllAvailable()
      in.addData((3L, other, t(200))) // watermark past 1's horizon
      q.processAllAvailable()
      in.addData((2L, d2, t(195)))
      q.processAllAvailable()
    }
    assert(got.isEmpty)
  }

  test("a hot fingerprint saturates: whole-bucket drop, no evidence " +
    "flood (streaming Caps semantics)") {
    val got = run(maxBucket = 2) { (in, q) =>
      (1 to 5).foreach { i =>
        in.addData((i.toLong, d1, t(100 + i)))
        q.processAllAvailable()
      }
    }
    // identical docs share every fingerprint; only the pre-saturation
    // pair (1,2) survives, docs 3-5 hit saturated buckets.
    // This (1,2) pair is ALSO the pinned cap-boundary divergence from
    // batch Caps.cap, which sees the whole bucket up front and drops
    // it with ZERO pairs — append mode cannot retract what was emitted
    // before the cap tripped (SaturatingBucket scaladoc)
    assert(got.keySet == Set((1L, 2L)))
  }

  test("fingerprint state survives a kill-and-restart on RocksDB: an " +
    "overlap arriving after recovery pairs with a pre-restart member") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    WinnowChaosProbe.reset()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ckpt = java.nio.file.Files.createTempDirectory("winnow_ckpt").toString
    def start() = StreamingWinnowOverlap(
        input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
        horizonSeconds = 10L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(WinnowChaosProbe.probe _)
      .queryName("winnow_chaos").start()
    try {
      var q = start()
      input.addData((1L, d1, t(100)))
      q.processAllAvailable()
      q.stop() // kill between the member arriving and its overlap
      q = start()
      try {
        input.addData((2L, d2, t(105)))
        q.processAllAvailable()
        assert(WinnowChaosProbe.pairs.contains((1L, 2L)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("pairs(): the downstream windowed count applies minShared " +
    "like the batch filter") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val name = s"winnow_pairs_${System.nanoTime()}"
    val q = StreamingWinnowOverlap.pairs(
        StreamingWinnowOverlap(
          input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
          horizonSeconds = 10L),
        horizonSeconds = 10L, minShared = 3)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      input.addData((1L, d1, t(100)), (2L, d2, t(101)), (3L, other, t(102)))
      q.processAllAvailable()
      // close the event-time window so the append-mode agg emits
      input.addData((9L, other, t(200)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      assert(rows.map(_._1).toSet == Set((1L, 2L)))
      assert(rows.head._2 >= 3)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}

/** Restart-test probe with a batchId guard (foreachBatch replays). */
object WinnowChaosProbe {
  private val buf = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def probe(batch: org.apache.spark.sql.Dataset[graft.streaming.WinnowShared],
      id: Long): Unit = {
    val rows = batch.collect().map(p => (p.doc_a, p.doc_b))
    synchronized { if (id > last) { buf ++= rows; last = id } }
  }
  def pairs: Set[(Long, Long)] = synchronized(buf.toSet)
}
