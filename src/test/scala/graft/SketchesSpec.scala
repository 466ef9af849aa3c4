package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Dedup, Sketches}

/** Behavioral tests for the round-13 pipeline additions: the
  * deterministic HLL sketch (mergeability + accuracy on both the
  * linear-counting and raw branches), cross-corpus near-dup joins, and
  * cluster-balanced sampling. Exact values are oracle-pinned
  * (q_hll_distinct / q_crosscorpus_neardup / q_cluster_sample); these
  * pin the semantic properties the oracle cannot see. */
class SketchesSpec extends SparkSpec {

  private def vals(n: Int, key: String = "k") = {
    val spark0 = spark
    import spark0.implicits._
    (1 to n).map(i => (key, s"user_$i")).toDF("k", "v")
  }

  test("HLL estimate lands within 3σ on the raw branch (m=64, 5000 " +
    "distinct) and nails small sets via linear counting") {
    val big = Sketches.hllDistinct(vals(5000), Seq("k"), "v")
      .collect().head
    val est = big.getAs[Double]("hll_est")
    // σ ≈ 1.04/√64 ≈ 13%; 3σ = 39%
    assert(math.abs(est - 5000) / 5000.0 < 0.39, s"est $est")
    val small = Sketches.hllDistinct(vals(12), Seq("k"), "v")
      .collect().head
    assert(small.getAs[Int]("n_zero") > 0) // linear-counting branch
    assert(math.abs(small.getAs[Double]("hll_est") - 12) < 6)
  }

  test("HLL sketches MERGE: sketch(A ∪ B) == bucket-max of " +
    "sketch(A) and sketch(B)") {
    val a = vals(300)
    val b = vals(500).withColumn("v", concat(lit("other_"), col("v")))
    val whole = Sketches.sketch(a.union(b), Seq("k"), "v")
      .orderBy("bucket").collect().map(r => (r.getLong(1), r.getInt(2)))
    val merged = Sketches.sketch(a, Seq("k"), "v")
      .union(Sketches.sketch(b, Seq("k"), "v"))
      .groupBy("k", "bucket").agg(max("r").as("r"))
      .orderBy("bucket").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(whole.toSeq == merged.toSeq)
  }

  test("HLL is insensitive to duplication (cardinality, not count)") {
    val once = Sketches.hllDistinct(vals(200), Seq("k"), "v").collect().head
    val thrice = Sketches.hllDistinct(
      vals(200).union(vals(200)).union(vals(200)), Seq("k"), "v")
      .collect().head
    assert(once.getAs[Double]("hll_est") == thrice.getAs[Double]("hll_est"))
    assert(thrice.getAs[Long]("n_exact") == 200L)
  }

  test("null values don't perturb either sketch (count-distinct " +
    "semantics: non-null universe only)") {
    val spark0 = spark
    import spark0.implicits._
    val clean = (1 to 80).map(i => ("k", s"u$i")).toDF("k", "v")
    val dirty = clean.union(Seq(("k", null: String), ("k", null: String))
      .toDF("k", "v"))
    val eClean = Sketches.hllDistinct(clean, Seq("k"), "v").collect().head
    val eDirty = Sketches.hllDistinct(dirty, Seq("k"), "v").collect().head
    assert(eClean.toSeq == eDirty.toSeq)
    val fClean = Sketches.cmsFrequencies(clean, "v")
      .orderBy("v").collect().map(_.toSeq).toSeq
    val fDirty = Sketches.cmsFrequencies(dirty, "v")
      .orderBy("v").collect().map(_.toSeq).toSeq
    assert(fClean == fDirty)
  }

  test("a key whose values are ALL null still appears in the audit " +
    "surface: n_exact 0, 0 buckets, est 0, rel_err 0") {
    val spark0 = spark
    import spark0.implicits._
    val df = (1 to 40).map(i => ("live", s"u$i")).toDF("k", "v")
      .union(Seq(("dead", null: String)).toDF("k", "v"))
    val rows = Sketches.hllDistinct(df, Seq("k"), "v")
      .orderBy("k").collect()
    assert(rows.length == 2)
    val dead = rows.head
    assert(dead.getAs[String]("k") == "dead")
    assert(dead.getAs[Long]("n_exact") == 0L)
    assert(dead.getAs[Int]("n_buckets") == 0)
    assert(dead.getAs[Int]("n_zero") == (1 << Sketches.DefaultB))
    assert(dead.getAs[Double]("hll_est") == 0.0)
    assert(dead.getAs[Double]("rel_err") == 0.0)
  }

  test("CMS never undercounts, is exact sans collisions, and merges " +
    "by cell-wise addition") {
    val spark0 = spark
    import spark0.implicits._
    // skewed frequencies: value i appears i times
    val df = (1 to 30).flatMap(i => Seq.fill(i)(s"v$i")).toDF("v")
    val freqs = Sketches.cmsFrequencies(df, "v").collect()
    assert(freqs.length == 30)
    assert(freqs.forall(r => r.getAs[Long]("over_err") >= 0L))
    // d=4 rows of w=256 buckets vs 30 distinct values: the chance all
    // 4 rows collide for some value is negligible — the min is exact
    assert(freqs.forall(r =>
      r.getAs[Long]("cms_est") == r.getAs[Long]("n_exact")))
    val a = df.limit(100)
    val b = df.orderBy(col("v").desc).limit(200)
    val whole = Sketches.cmsSketch(a.union(b), "v")
      .orderBy("row", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val merged = Sketches.cmsSketch(a, "v")
      .union(Sketches.cmsSketch(b, "v"))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      .orderBy("row", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(whole.toSeq == merged.toSeq)
  }

  test("streaming windowed sketches == batch sketches on the closed " +
    "window's rows (HLL and CMS)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rows = (1 to 120).map(i => ("svc", s"host_${i % 40}", ts(5 + i % 8)))
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val hname = s"shll_${System.nanoTime()}"
    val cname = s"scms_${System.nanoTime()}"
    val sdf = input.toDF().toDF("k", "v", "t")
    val qh = Sketches.streamingSketch(sdf, "t", "20 seconds", Seq("k"), "v")
      .writeStream.format("memory").queryName(hname).outputMode("append")
      .start()
    val qc = Sketches.streamingCmsSketch(sdf, "t", "20 seconds", Seq("k"), "v")
      .writeStream.format("memory").queryName(cname).outputMode("append")
      .start()
    try {
      input.addData(rows: _*)
      qh.processAllAvailable(); qc.processAllAvailable()
      input.addData(("svc", "late_host", ts(1000))) // close the window
      qh.processAllAvailable(); qc.processAllAvailable()
      val batchDf = rows.toDF("k", "v", "t")
      val batchHll = Sketches.sketch(batchDf, Seq("k"), "v")
        .orderBy("bucket").collect()
        .map(r => (r.getLong(1), r.getInt(2))).toSeq
      val gotHll = spark.table(hname)
        .filter(col("window_start") === ts(0))
        .orderBy("bucket").collect()
        .map(r => (r.getLong(2), r.getInt(3))).toSeq
      assert(gotHll == batchHll && batchHll.nonEmpty)
      val batchCms = Sketches.cmsSketch(batchDf, "v")
        .orderBy("row", "bucket").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val gotCms = spark.table(cname)
        .filter(col("window_start") === ts(0))
        .orderBy("row", "bucket").collect()
        .map(r => (r.getInt(2), r.getLong(3), r.getLong(4))).toSeq
      assert(gotCms == batchCms && batchCms.nonEmpty)
    } finally { qh.stop(); qc.stop() }
  }

  test("streamingDistinct (chained stateful aggs) == batch estimate " +
    "on the closed window — the count(DISTINCT) streams cannot do") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rows = (1 to 150).map(i => ("svc", s"host_${i % 55}", ts(5 + i % 8)))
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val name = s"sdist_${System.nanoTime()}"
    val q = Sketches.streamingDistinct(
        input.toDF().toDF("k", "v", "t"), "t", "20 seconds", Seq("k"), "v")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("svc", "late", ts(1000)))
      q.processAllAvailable()
      val got = spark.table(name)
        .filter(col("window_start") === ts(0)).collect()
      assert(got.length == 1)
      val batch = Sketches.estimate(
          Sketches.sketch(rows.toDF("k", "v", "t"), Seq("k"), "v"),
          Seq("k")).collect().head
      assert(got.head.getAs[Double]("hll_est") ==
        batch.getAs[Double]("hll_est"))
      assert(got.head.getAs[Int]("n_buckets") ==
        batch.getAs[Int]("n_buckets"))
    } finally { q.stop() }
  }

  test("streaming HLL window state survives a kill-and-restart on " +
    "RocksDB: the closed window's sketch still equals the batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    SketchChaosProbe.reset()
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val ckpt = java.nio.file.Files.createTempDirectory("hll_ckpt").toString
    def start() = Sketches.streamingSketch(
        input.toDF().toDF("k", "v", "t"), "t", "20 seconds", Seq("k"), "v")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(SketchChaosProbe.probe _)
      .queryName("hll_chaos").start()
    val firstHalf = (1 to 60).map(i => ("svc", s"host_$i", ts(5 + i % 8)))
    val secondHalf = (61 to 120).map(i => ("svc", s"host_$i", ts(5 + i % 8)))
    try {
      var q = start()
      input.addData(firstHalf: _*)
      q.processAllAvailable()
      q.stop() // kill mid-window: the partial bucket-max state is live
      q = start()
      try {
        input.addData(secondHalf: _*)
        q.processAllAvailable()
        input.addData(("svc", "late", ts(1000))) // close the window
        q.processAllAvailable()
        val batch = Sketches.sketch(
            (firstHalf ++ secondHalf).toDF("k", "v", "t"), Seq("k"), "v")
          .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
        assert(SketchChaosProbe.rows == batch && batch.nonEmpty)
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("HDR sketch: small values are their own buckets (exact range), " +
    "cells merge by addition, and zero is handled") {
    val spark0 = spark
    import spark0.implicits._
    val small = (0L to 31L).map(("k", _)).toDF("k", "v")
    val sk = Sketches.hdrSketch(small, Seq("k"), col("v"))
      .orderBy("rep").collect()
    assert(sk.map(_.getLong(1)).toSeq == (0L to 31L) &&
      sk.forall(_.getLong(2) == 1L))
    val a = (1 to 400).map(i => ("k", (i * 37L) % 100000)).toDF("k", "v")
    val b = (1 to 300).map(i => ("k", (i * 91L) % 5000)).toDF("k", "v")
    val whole = Sketches.hdrSketch(a.union(b), Seq("k"), col("v"))
      .orderBy("rep").collect().map(r => (r.getLong(1), r.getLong(2)))
    val merged = Sketches.hdrSketch(a, Seq("k"), col("v"))
      .union(Sketches.hdrSketch(b, Seq("k"), col("v")))
      .groupBy("k", "rep").agg(sum("cnt").as("cnt"))
      .orderBy("rep").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(whole.toSeq == merged.toSeq && whole.nonEmpty)
  }

  test("HDR quantiles: one-sided under-estimate within 2^-sb relative, " +
    "exact in the sub-bucket range, nulls and negatives excluded") {
    val spark0 = spark
    import spark0.implicits._
    // log-uniform-ish spread incl. 0 and a >2^40 outlier
    val vs = Seq(0L, 1L, 3L) ++ (1 to 500).map(i =>
      (math.pow(1.03, i % 300) * 17).toLong) :+ (1L << 41)
    val audit = Sketches.hdrQuantilesAudit(
      vs.map(("k", _)).toDF("k", "v"), Seq("k"), col("v"),
      Seq(10, 250, 500, 750, 900, 990, 1000))
      .collect()
    assert(audit.length == 7)
    assert(audit.forall(r => r.getAs[Long]("under_err") >= 0L &&
      r.getAs[Boolean]("bound_ok")))
    // all-small domain: the sketch IS the exact histogram
    val exactAudit = Sketches.hdrQuantilesAudit(
      (0L to 31L).map(("k", _)).toDF("k", "v"), Seq("k"), col("v"),
      Seq(500, 990)).collect()
    assert(exactAudit.forall(r => r.getAs[Long]("under_err") == 0L))
    // nulls/negatives are out of domain, not phantom buckets
    val dirty = (Seq[java.lang.Long](-5L, null) ++
      (1L to 64L).map(java.lang.Long.valueOf))
      .map(("k", _)).toDF("k", "v")
    val clean = (1L to 64L).map(("k", _)).toDF("k", "v")
    assert(Sketches.hdrQuantilesAudit(dirty, Seq("k"), col("v"), Seq(500))
        .collect().head.toSeq ==
      Sketches.hdrQuantilesAudit(clean, Seq("k"), col("v"), Seq(500))
        .collect().head.toSeq)
    // sub-bucket bits outside [1,16] fail fast, as in hdrSketch
    for (sb <- Seq(0, 17))
      intercept[IllegalArgumentException](Sketches.hdrQuantilesAudit(
        clean, Seq("k"), col("v"), Seq(500), sb))
  }

  test("streamingQuantiles (chained aggs + bounded fold) == batch " +
    "hdrQuantiles on the closed window") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rows = (1 to 200).map(i =>
      ("svc", ((i * i) % 7919).toLong, ts(5 + i % 8)))
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val name = s"shdr_${System.nanoTime()}"
    val q = Sketches.streamingQuantiles(
        input.toDF().toDF("k", "v", "t"), "t", "20 seconds", Seq("k"),
        col("v"), Seq(500, 900, 990))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("svc", 1L, ts(1000))) // close the window
      q.processAllAvailable()
      val got = spark.table(name)
        .filter(col("window_start") === ts(0))
        .orderBy("q_milli").collect()
        .map(r => (r.getString(1), r.getInt(2), r.getLong(3),
          r.getLong(4))).toSeq
      val batch = Sketches.hdrQuantiles(
          Sketches.hdrSketch(rows.toDF("k", "v", "t"), Seq("k"),
            col("v")), Seq("k"), Seq(500, 900, 990))
        .orderBy("q_milli").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == batch && batch.nonEmpty)
    } finally { q.stop() }
  }

  test("streaming HDR window state survives a kill-and-restart on " +
    "RocksDB: the closed window's cells still equal the batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    HdrChaosProbe.reset()
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val ckpt = java.nio.file.Files.createTempDirectory("hdr_ckpt").toString
    def start() = Sketches.streamingHdrSketch(
        input.toDF().toDF("k", "v", "t"), "t", "20 seconds", Seq("k"),
        col("v"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(HdrChaosProbe.probe _)
      .queryName("hdr_chaos").start()
    val firstHalf = (1 to 60).map(i => ("svc", (i * 13L) % 3000, ts(5 + i % 8)))
    val secondHalf = (61 to 120).map(i => ("svc", (i * 13L) % 3000, ts(5 + i % 8)))
    try {
      var q = start()
      input.addData(firstHalf: _*)
      q.processAllAvailable()
      q.stop() // kill mid-window: the partial additive cells are live
      q = start()
      try {
        input.addData(secondHalf: _*)
        q.processAllAvailable()
        input.addData(("svc", 1L, ts(1000))) // close the window
        q.processAllAvailable()
        val batch = Sketches.hdrSketch(
            (firstHalf ++ secondHalf).toDF("k", "v", "t"), Seq("k"),
            col("v"))
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
        assert(HdrChaosProbe.rows == batch && batch.nonEmpty)
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("cmsHeavyHitters: zero false negatives, integer-exact threshold, " +
    "every survivor's estimate reaches it") {
    val spark0 = spark
    import spark0.implicits._
    // value i appears i times: n = 820, phi = 30‰ → thr = ceil(24.6) = 25
    val df = (1 to 40).flatMap(i => Seq.fill(i)(f"v$i%02d")).toDF("v")
    val got = Sketches.cmsHeavyHitters(df, "v", phiMilli = 30)
      .orderBy("v").collect()
    assert(got.forall(_.getAs[Long]("thr") == 25L))
    assert(got.forall(r => r.getAs[Long]("cms_est") >= 25L))
    // CMS never undercounts → every truly heavy value MUST be present
    val gotVals = got.map(_.getAs[String]("v")).toSet
    assert((25 to 40).forall(i => gotVals.contains(f"v$i%02d")))
    // d=4 × w=256 vs 40 distinct values: collisions negligible — the
    // survivor set is exactly the true heavy set, all flagged true
    assert(gotVals == (25 to 40).map(i => f"v$i%02d").toSet)
    assert(got.forall(_.getAs[Boolean]("is_true_heavy")))
  }

  private def mkDocs(rows: (Long, String)*) = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text")
  }

  test("crossCorpusNearDups finds the incoming near-copy of a " +
    "reference doc and filterAgainstCorpus keeps only the novel doc") {
    val ref = mkDocs(
      (10L, "the quick brown fox jumps over the lazy dog every day"),
      (11L, "completely different reference content about other topics"))
    val incoming = mkDocs(
      (20L, "the quick brown fox jumps over the lazy dog every night"),
      (21L, "a genuinely novel incoming document with fresh words only"))
    val pairs = Dedup.crossCorpusNearDups(incoming, ref, threshold = 0.3)
      .select("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((20L, 10L)))
    val kept = Dedup.filterAgainstCorpus(incoming, ref, threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(21L))
  }

  test("mixturePlan: epoch caps bind under a rich budget, allocations " +
    "follow temperature weights under a scarce one, tokens conserve") {
    val spark0 = spark
    import spark0.implicits._
    // source a: 10 docs × 10 tokens; source b: 2 docs × 10 tokens
    val docs = ((1 to 10).map(i => (s"a$i", "a")) ++
      (1 to 2).map(i => (s"b$i", "b")))
      .map { case (id, src) => (id, Seq.fill(10)("w").mkString(" "), src) }
      .toDF("doc_id", "text", "source")
    // rich budget: both sources cap at 2 epochs, remainder unspent
    val rich = graft.pipeline.Curation.mixturePlan(docs, 1000,
        alpha = 0.5, maxEpochs = 2.0)
      .orderBy("source").collect()
    assert(rich.map(_.getAs[Double]("epochs")).toSeq == Seq(2.0, 2.0))
    assert(rich.map(_.getAs[Long]("alloc_tokens")).toSeq == Seq(200L, 40L))
    assert(rich.forall(_.getAs[Long]("unspent") == 1000L - 240L))
    // scarce budget, alpha=1: allocations proportional to availability
    val scarce = graft.pipeline.Curation.mixturePlan(docs, 60,
        alpha = 1.0, maxEpochs = 2.0)
      .orderBy("source").collect()
    assert(scarce.map(_.getAs[Long]("alloc_tokens")).toSeq == Seq(50L, 10L))
    assert(scarce.forall(_.getAs[Long]("unspent") >= 0L))
    // alpha < 1 up-weights the SMALL source: its epochs >= the big one's
    val flat = graft.pipeline.Curation.mixturePlan(docs, 60,
        alpha = 0.3, maxEpochs = 5.0)
      .orderBy("source").collect()
    assert(flat.map(_.getAs[Double]("epochs")) match {
      case Array(big, small) => small >= big
    })
    // conservation in every regime: Σ alloc + unspent == budget... up
    // to the floor remainder, which is also what unspent reports
    assert(scarce.map(_.getAs[Long]("alloc_tokens")).sum +
      scarce.head.getAs[Long]("unspent") == 60L)
  }

  test("clusterSample: deterministic, bounded keep rates, kept ⊆ input") {
    val spark0 = spark
    import spark0.implicits._
    // two tight clusters of different sizes along different axes
    val rows = ((1 to 30).map(i =>
      (i.toLong, Array.tabulate(8)(d => if (d == 0) 1.0f else 0.001f * i), 0)) ++
      (31 to 40).map(i =>
        (i.toLong, Array.tabulate(8)(d => if (d == 4) 1.0f else 0.001f * i), 1)))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val s1 = Curation.clusterSample(emb, 0.5, 0.5).orderBy("vec_id").collect()
    val s2 = Curation.clusterSample(emb, 0.5, 0.5).orderBy("vec_id").collect()
    assert(s1.toSeq == s2.toSeq) // resumable: same sample every run
    assert(s1.nonEmpty && s1.length < 40)
    assert(s1.forall { r =>
      val rate = r.getAs[Double]("keep_rate")
      rate > 0.0 && rate <= 1.0 && r.getAs[Double]("sample_u") < rate + 1e-6
    })
    // alpha < 1 up-weights the SMALL cluster: its keep rate must be
    // at least the big cluster's
    val byCell = s1.groupBy(_.getAs[Int]("cell")).view
      .mapValues(_.head.getAs[Double]("keep_rate")).toMap
    if (byCell.size == 2)
      assert(byCell(1) >= byCell(0))
  }
}

/** Restart-test probe for the HDR cells (batchId replay guard). */
object HdrChaosProbe {
  private val buf = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def probe(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val rows = batch.collect()
      .map(r => (r.getLong(r.fieldIndex("rep")),
        r.getLong(r.fieldIndex("cnt"))))
    synchronized { if (id > last) { buf ++= rows; last = id } }
  }
  def rows: Set[(Long, Long)] = synchronized(buf.toSet)
}

/** Restart-test probe with a batchId guard (foreachBatch replays). */
object SketchChaosProbe {
  private val buf = scala.collection.mutable.LinkedHashSet[(Long, Int)]()
  private var last = -1L
  def reset(): Unit = synchronized { buf.clear(); last = -1L }
  def probe(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val rows = batch.collect()
      .map(r => (r.getLong(r.fieldIndex("bucket")),
        r.getInt(r.fieldIndex("r"))))
    synchronized { if (id > last) { buf ++= rows; last = id } }
  }
  def rows: Set[(Long, Int)] = synchronized(buf.toSet)
}
