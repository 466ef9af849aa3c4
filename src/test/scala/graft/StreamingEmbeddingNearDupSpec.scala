package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingEmbeddingNearDup

/** Streaming embedding near-dup: cross-batch pairing, batch parity
  * (identical banding + exact-cosine arithmetic), horizon eviction,
  * saturation, and RocksDB restart — the fourth member of the
  * streaming dedup family on the shared saturating-bucket kernel. */
class StreamingEmbeddingNearDupSpec extends SparkSpec {

  private def t(s: Long) = new java.sql.Timestamp(s * 1000)

  // axis-aligned 64-dim vectors: 1/2 nearly parallel (cos ~0.98),
  // 3 orthogonal to both
  private def vec(axis: Int, jitter: Float): Seq[Float] =
    Seq.tabulate(64)(d =>
      if (d == axis) 1f else if (d == (axis + 32) % 64) jitter else 0f)
  private val v1 = vec(0, 0.1f)
  private val v2 = vec(0, 0.3f)
  private val v3 = vec(7, 0.1f)

  private def run(maxBucket: Int = 1000, threshold: Double = 0.4)(
      feed: (MemoryStream[(Long, Seq[Float], java.sql.Timestamp)],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit)
      : Seq[(Long, Long, Double)] = {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val name = s"emb_neardup_${System.nanoTime()}"
    val q = StreamingEmbeddingNearDup(
        input.toDF().toDF("vec_id", "embedding", "arrived"), "arrived",
        horizonSeconds = 10L, threshold = threshold, maxBucket = maxBucket)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      feed(input, q)
      spark.table(name).select("vec_a", "vec_b", "cosine").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("near-parallel vectors pair across micro-batches; orthogonal don't") {
    val got = run() { (in, q) =>
      in.addData((1L, v1, t(100)), (3L, v3, t(100)))
      q.processAllAvailable()
      in.addData((2L, v2, t(105))) // a batch later: pairs via state
      q.processAllAvailable()
    }
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 > 0.9)
  }

  test("streamed pairs and cosines equal the batch embeddingNearDups " +
    "on the real embeddings table") {
    val spark0 = spark
    import spark0.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val batch = graft.pipeline.Dedup.embeddingNearDups(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    val corpus = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val streamed = run() { (in, q) =>
      corpus.grouped(100).zipWithIndex.foreach { case (g, i) =>
        in.addData(g.toSeq.map { case (id, v) => (id, v, t(100 + i)) })
        q.processAllAvailable()
      }
    }
    assert(streamed == batch)
  }

  test("members older than the horizon are evicted; an over-full " +
    "bucket saturates") {
    val evicted = run() { (in, q) =>
      in.addData((1L, v1, t(100)))
      q.processAllAvailable()
      in.addData((3L, v3, t(200))) // watermark past 1's horizon
      q.processAllAvailable()
      in.addData((2L, v2, t(195)))
      q.processAllAvailable()
    }
    assert(evicted.isEmpty)
    val saturated = run(maxBucket = 2) { (in, q) =>
      (1 to 5).foreach { i =>
        in.addData((i.toLong, v1, t(100 + i)))
        q.processAllAvailable()
      }
    }
    // the surviving pre-saturation pair (1,2) pins the documented
    // cap-boundary divergence from batch Caps.cap (zero pairs for an
    // over-cap bucket) — see SaturatingBucket scaladoc
    assert(saturated.map(p => (p._1, p._2)) == Seq((1L, 2L)))
  }

  test("bucket state survives a kill-and-restart on RocksDB") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    EmbChaosProbe.reset()
    val input = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val ckpt = java.nio.file.Files.createTempDirectory("embdup_ckpt").toString
    def start() = StreamingEmbeddingNearDup(
        input.toDF().toDF("vec_id", "embedding", "arrived"), "arrived",
        horizonSeconds = 10L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(EmbChaosProbe.probe _)
      .queryName("embdup_chaos").start()
    try {
      var q = start()
      input.addData((1L, v1, t(100)))
      q.processAllAvailable()
      q.stop()
      q = start()
      try {
        input.addData((2L, v2, t(105)))
        q.processAllAvailable()
        assert(EmbChaosProbe.pairs.contains((1L, 2L)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

/** Restart-test probe with a batchId guard (foreachBatch replays). */
object EmbChaosProbe {
  private val buf = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def probe(batch: org.apache.spark.sql.Dataset[graft.streaming.EmbNearDupPair],
      id: Long): Unit = {
    val rows = batch.collect().map(p => (p.vec_a, p.vec_b))
    synchronized { if (id > last) { buf ++= rows; last = id } }
  }
  def pairs: Set[(Long, Long)] = synchronized(buf.toSet)
}
