package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Heavy-tail document leg for the STREAMING dedup family (r17 VERDICT
  * #5): the r17 docmix probe proved the batch pair family on
  * million-shingle documents; these tests push docmix-shaped M-char
  * documents through the streaming faces and assert the two properties
  * that matter at that scale:
  *
  *  - LIVENESS: the kernels complete on megabyte documents (a
  *    quadratic or text-retaining path would time out / OOM the
  *    2-thread test session long before these sizes);
  *  - STATE SIZE: state rows stay bounded by the DESIGN bound
  *    (members per bucket / distinct grams), and state bytes stay
  *    orders of magnitude below the ingested text volume — the
  *    per-member payload is a signature/fingerprint/triple, never the
  *    document (BucketMember/FpMember/the canonical triple carry no
  *    text by construction; these assertions pin that no text sneaks
  *    into a state encoder later).
  */
class StreamingHeavyTailSpec extends SparkSpec {

  private def t(s: Long) = new Timestamp(s * 1000)

  /** ~8 chars/word deterministic filler: `nChars` chars of seeded
    * vocabulary — distinct seeds share essentially no w-shingles. */
  private def filler(seed: Int, nChars: Int): String = {
    val r = new scala.util.Random(seed)
    val sb = new StringBuilder(nChars + 16)
    while (sb.length < nChars) {
      sb.append('w').append(r.nextInt(900000)).append(' ')
    }
    sb.substring(0, nChars)
  }

  private def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum

  /** RocksDB's internal column-family rows: each registered timer
    * twice (by key and by time) and each non-empty list's row counter,
    * none of which `numRowsTotal` counts. */
  private def internalRows(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(
      _.customMetrics.get("rocksdbNumInternalColFamiliesKeys").longValue)).sum

  private def stateBytes(q: StreamingQuery): Long =
    Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum

  test("neardup: 1 M-char documents stream through the saturating-bucket " +
    "kernel — the near-dup pair emits cross-batch, state rows stay at " +
    "docs x bands, state bytes stay far below the text volume") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val docMB = 1000000
      val base = filler(1, docMB)
      // 99% shared prefix: a true near-dup at megabyte size
      val nearDup = base.substring(0, docMB - docMB / 100) +
        filler(99, docMB / 100)
      val input = MemoryStream[(Long, String, Timestamp)]
      val name = s"ht_neardup_${System.nanoTime()}"
      val q = graft.streaming.StreamingNearDup(
          input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
          horizonSeconds = 3600L, threshold = 0.5, maxBucket = 64)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: eight unique megabyte documents
        input.addData((0 until 8).map(i =>
          (i.toLong, if (i == 0) base else filler(i + 1, docMB),
            t(100 + i))))
        q.processAllAvailable()
        // batch 2: the near-dup arrives later — CROSS-BATCH pairing
        input.addData((8L, nearDup, t(200)))
        q.processAllAvailable()

        val pairs = spark.table(name)
          .select("doc_a", "doc_b", "est_jaccard").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(pairs.exists(p => p._1 == 0L && p._2 == 8L && p._3 >= 0.5),
          s"pairs: ${pairs.toSeq}")
        assert(!pairs.exists(p => p._1 != 0L || p._2 != 8L),
          s"unrelated megabyte docs paired: ${pairs.toSeq}")

        // design bound: one MEMBER row per (doc, band) = 9 x 4, plus
        // one armed-deadline row per live (band, bucket) key (<= docs x
        // bands): numRowsTotal counts these user state rows only. Each
        // key's registered timer (two rows) and its member list's row
        // counter are internal rows, <= 3 per key. What matters is that
        // both scale with DOCS, never with characters
        val rows = stateRows(q)
        assert(rows <= 9 * 4 * 2,
          s"state rows $rows exceed the docs x bands design bound")
        val internal = internalRows(q)
        assert(internal <= 9 * 4 * 3,
          s"timer and counter rows $internal exceed 3 per docs x bands key")
        // 9 MB of text ingested; members carry 16-minhash signatures,
        // so state memory must sit orders of magnitude below the text
        val bytes = stateBytes(q)
        assert(bytes < 4 * 1024 * 1024,
          s"state bytes $bytes — is document text leaking into state?")
      } finally q.stop()
    }
  }

  test("winnow overlap: 100 K-char documents sharing a 30 K block emit " +
    "their shared-fingerprint evidence cross-batch; fingerprint-keyed " +
    "state is (doc_id, time) pairs, never text") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val shared = filler(9, 30000)
      val doc1 = filler(11, 70000) + shared
      val doc3 = filler(13, 70000) + shared
      val input = MemoryStream[(Long, String, Timestamp)]
      val name = s"ht_winnow_${System.nanoTime()}"
      val q = graft.streaming.StreamingWinnowOverlap(
          input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
          horizonSeconds = 3600L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((0L, filler(10, 100000), t(100)),
          (1L, doc1, t(101)), (2L, filler(12, 100000), t(102)))
        q.processAllAvailable()
        input.addData((3L, doc3, t(200)))
        q.processAllAvailable()

        val evidence = spark.table(name)
          .groupBy("doc_a", "doc_b").count().collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
        // the 30 K shared block contributes many shared fingerprints
        assert(evidence.getOrElse((1L, 3L), 0L) >= 10L,
          s"evidence: $evidence")
        // unrelated docs share at most spurious single fingerprints
        assert(evidence.filterNot(_._1 == (1L, 3L)).values.forall(_ <= 2),
          s"evidence: $evidence")
        val bytes = stateBytes(q)
        assert(bytes < 32 * 1024 * 1024,
          s"state bytes $bytes for 400 KB of text — payload bound broken?")
      } finally q.stop()
    }
  }

  test("substring dedup: a 100-token span copied into a later 50 K-char " +
    "document is marked gram-by-gram; state per gram is one (doc, pos, " +
    "seen) triple and the canonical document emits no marks") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val a = filler(21, 50000)
      val span = a.split(" ").slice(2000, 2100).mkString(" ") // 100 tokens
      val b = filler(22, 25000) + " " + span + " " + filler(23, 25000)
      val input = MemoryStream[(Long, String, Timestamp)]
      val name = s"ht_substr_${System.nanoTime()}"
      val q = graft.streaming.StreamingSubstringDedup.marks(
          input.toDF().toDF("doc_id", "text", "arrived"), "arrived",
          minLen = 8, horizonSeconds = 3600L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((1L, a, t(100)))
        q.processAllAvailable()
        input.addData((2L, b, t(200)))
        q.processAllAvailable()
        val marks = spark.table(name).where("p >= 1")
          .groupBy("doc_id").count().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        // ~93 duplicated grams inside the copied span (100 - 8 + 1),
        // allow boundary slack; the canonical doc is never marked
        assert(marks.getOrElse(2L, 0L) >= 80L, s"marks: $marks")
        assert(marks.getOrElse(1L, 0L) == 0L, s"marks: $marks")
        // carriers passed through for both docs
        assert(spark.table(name).where("p = 0").count() == 2)
      } finally q.stop()
    }
  }

  test("embedding near-dup: 1500 vectors stream through banded buckets; " +
    "the planted duplicate pairs cross-batch at cosine ~1; state rows " +
    "bounded by vectors x bands") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val dims = 16
      def vec(seed: Int): Array[Float] = {
        val r = new scala.util.Random(seed)
        Array.fill(dims)((r.nextDouble() * 2 - 1).toFloat)
      }
      val input = MemoryStream[(Long, Array[Float], Timestamp)]
      val name = s"ht_emb_${System.nanoTime()}"
      val q = graft.streaming.StreamingEmbeddingNearDup(
          input.toDF().toDF("vec_id", "embedding", "arrived"), "arrived",
          horizonSeconds = 3600L, threshold = 0.95, dims = dims,
          maxBucket = 256)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((0 until 1500).map(i =>
          (i.toLong, vec(i), t(100 + i / 100))))
        q.processAllAvailable()
        input.addData((9000L, vec(7), t(300))) // exact dup of vec 7
        q.processAllAvailable()
        val pairs = spark.table(name)
          .select("vec_a", "vec_b", "cosine").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(pairs.exists(p => p._1 == 7L && p._2 == 9000L &&
          p._3 >= 0.999), s"pairs: ${pairs.toSeq.take(5)}")
        // user rows: members (at most vectors x bands; a saturated
        // bucket clears) and one armed row per live bucket key. Each
        // key's timer (two rows) and member list's row counter are
        // internal rows, <= 3 per key
        val rows = stateRows(q)
        assert(rows <= 1501 * 4, s"state rows $rows exceed vectors x bands")
        val internal = internalRows(q)
        assert(internal <= 1501 * 4 * 3,
          s"timer and counter rows $internal exceed 3 per vectors x bands key")
      } finally q.stop()
    }
  }

  test("crosscorpus decontamination: a megabyte benchmark document is " +
    "caught on a megabyte arriving document — stateless, no state " +
    "operator at all") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ht-xcorpus")
    val benchmark = filler(31, 1000000)
    Seq((100L, benchmark)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("ref").toString)
    val refB = graft.streaming.StreamingCrossCorpus.referenceBanded(
      spark.read.parquet(dir.resolve("ref").toString), 16, 4, 3, 1000)
    val input = MemoryStream[(Long, String, Timestamp)]
    val name = s"ht_xc_${System.nanoTime()}"
    val q = graft.streaming.StreamingCrossCorpus.matches(
        input.toDF().toDF("doc_id", "text", "time"), refB,
        "time", 16, 4, 3, 0.5)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData((1L, benchmark, t(100)),
        (2L, filler(32, 1000000), t(101)))
      q.processAllAvailable()
      val hits = spark.table(name).select("new_id", "ref_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((1L, 100L)) && !hits.exists(_._1 == 2L),
        s"hits: $hits")
      // stream-static equi-join: genuinely stateless
      assert(stateRows(q) == 0L, s"unexpected state: ${stateRows(q)}")
    } finally q.stop()
  }
}
