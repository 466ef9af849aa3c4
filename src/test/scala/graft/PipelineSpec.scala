package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Dedup, Similarity, TextAnalysis}

import scala.jdk.CollectionConverters._

/** Behavioral tests for the LLM-pipeline operators (dedup / similarity)
  * on hand-built corpora where the expected clusters are obvious —
  * complements the DuckDB-oracle checks, which pin exact values but
  * not the semantic shape (recall, cell assignment, cap behavior). */
class PipelineSpec extends SparkSpec {

  test("langIdNgram: trained char-3-gram NB separates distinguishable " +
    "corpora, argmax ties break deterministically, short docs → und") {
    val spark0 = spark
    import spark0.implicits._
    // two 'languages' with disjoint character inventories, 20 docs
    // each, plus held-out-style docs the model must classify by text,
    // not by label (their declared labels are WRONG on purpose)
    val train = (0 until 20).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo fox $i", "aa")) ++
      (0 until 20).map(i =>
        (100L + i, s"zulu xray quebec juliett kilo whisky $i", "zz"))
    val probes = Seq(
      (500L, "alpha bravo charlie echo", "zz"), // aa-text, zz label
      (501L, "zulu xray quebec kilo", "aa"),    // zz-text, aa label
      (502L, "no", "aa"))                       // < 3 chars → und
    val df = (train ++ probes).toDF("doc_id", "text", "lang")
    val got = graft.pipeline.TextAnalysis.langIdNgram(df)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(got(500L)._1 == "aa", s"aa-text probe predicted ${got(500L)}")
    assert(got(501L)._1 == "zz", s"zz-text probe predicted ${got(501L)}")
    assert(got(502L) == ("und", 0L))
    // training docs classify to their own language
    (0 until 20).foreach(i => assert(got(i.toLong)._1 == "aa"))
    (0 until 20).foreach(i => assert(got(100L + i)._1 == "zz"))
    // scores are real fixed-point log-likelihood differences (negative)
    assert(got(500L)._2 < 0 && got(501L)._2 < 0)
  }

  test("unigram: hard-EM keeps used multi-char pieces, encode compresses " +
    "repeated words, over-long words fall back to per-char UnkCost") {
    val spark0 = spark
    import spark0.implicits._
    import graft.pipeline.Unigram
    val docs = ((0 until 30).map(i => (i.toLong, "banana banana band")) ++
      Seq((100L, "banana " + "x" * 40))).toDF("doc_id", "text")
    val model = Unigram.trainModel(docs)
    val pieces = model.map(_._1).toSet
    // all single chars of the TRAINING words are in the vocab (the
    // over-long 'Ġxxx…' word is excluded from the fit, so 'x' is not)
    "bandĠ".map(_.toString)
      .foreach(c => assert(pieces.contains(c), s"missing single '$c'"))
    assert(!pieces.contains("x"))
    // a frequent multi-char piece from 'banana' survives the prune
    assert(pieces.exists(p => p.length >= 2 && "Ġbanana".contains(p)),
      s"no banana fragment kept: $pieces")
    val enc = Unigram.encode(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (np0, nt0, _) = enc(0L)
    assert(np0 == 3L)            // 'banana', 'Ġbanana', 'Ġband'
    assert(nt0 < 17L && nt0 >= 3L) // compressed below char count
    // doc 100: 'Ġ' + 40 x's = 41 chars > MaxWordLen → one token per
    // char at UnkCost, plus the compressed 'banana'
    val (np1, nt1, tc1) = enc(100L)
    assert(np1 == 2L && nt1 >= 41L + 1L)
    assert(tc1 >= 41L * Unigram.UnkCost)
    // determinism: retraining yields the identical model
    assert(Unigram.trainModel(docs) == model)
  }

  test("langIdNgram: scorer kernel ≡ broadcast-join column form incl. " +
    "null-lang docs, short docs, unseen-gram docs, tie langs") {
    val spark0 = spark
    import spark0.implicits._
    val docs = (
      (0 until 25).map(i => (i.toLong, "the cat sat on the mat near the hat", "en")) ++
      (100 until 125).map(i => (i.toLong, "le chat est sur le tapis pres du chapeau", "fr")) ++
      Seq((200L, "zzqq xx vv kk jj unseen grams here", null),
        (201L, "ab", "en"),           // too short for one gram
        (202L, "", null), (203L, null, null),
        (204L, "the chat sat sur le mat", null))) // mixed → tie-ish
      .toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    assert(rows(graft.pipeline.TextAnalysis.langIdNgram(docs)) ==
      rows(graft.pipeline.TextAnalysis.langIdNgramColumns(docs)))
  }

  test("unigram tokens: sequences reassemble the pre-tokens exactly and " +
    "their counts equal the encode DP's n_unigram_tokens") {
    val spark0 = spark
    import spark0.implicits._
    import graft.pipeline.{Bpe, TextAnalysis, Unigram}
    val docs = ((0 until 30).map(i => (i.toLong, "banana banana band")) ++
      Seq((100L, "banana " + "x" * 40), (101L, ""), (102L, "one")))
      .toDF("doc_id", "text")
    val model = Unigram.trainModel(docs)
    val toks = Unigram.encodeTokensDf(docs, model)
      .select(col("doc_id"), col("tokens"),
        concat_ws("", col("tokens")).as("joined"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getString(2))).toMap
    // lossless: concatenating the pieces reproduces the Ġ-mapped
    // pre-token stream byte for byte (no token invents or drops bytes)
    val expected = docs.select(col("doc_id"), concat_ws("",
        transform(regexp_extract_all(col("text"),
            lit(TextAnalysis.BpeSplitRe), lit(0)),
          t => translate(t, " ", Bpe.SpaceMark))).as("j"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    expected.foreach { case (id, j) =>
      assert(toks(id)._2 == j, s"doc $id reassembly") }
    // counts: size(tokens) == the count DP's n_unigram_tokens
    val counts = Unigram.encode(docs, model)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    counts.foreach { case (id, n) =>
      assert(toks(id)._1.size.toLong == n, s"doc $id count") }
    // over-long word: one token per char
    assert(toks(100L)._1.count(_ == "x") == 40)
  }

  test("unigram: memoized encode kernel ≡ projection-chain column form " +
    "incl. null/empty/non-ASCII/over-long texts") {
    val spark0 = spark
    import spark0.implicits._
    import graft.pipeline.Unigram
    val train = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog banana"))
      .toDF("doc_id", "text")
    val model = Unigram.trainModel(train)
    val texts: Seq[String] = Seq(
      "the quick brown fox", "banana banana band", "", null,
      "日本語のテキスト and ascii", "word " + "y" * 30 + " tail",
      "  double  spaces  ", "the the the the the the")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(rows(Unigram.encode(docs, model)) ==
      rows(Unigram.encodeColumns(docs, model)))
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Tiny corpus: two orthogonal clusters along axes 0 and 1 (dims=4),
    * labels matching the clusters. */
  private def embeddings(rows: (Long, Seq[Float], Int)*): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, embSchema)

  private def cluster(axis: Int, jitter: Float): Seq[Float] =
    Seq.tabulate(4)(d => if (d == axis) 1f else if (d == (axis + 2)) jitter else 0f)

  private val corpus = embeddings(
    (0L, cluster(0, 0.1f), 0), (1L, cluster(0, 0.2f), 0),
    (2L, cluster(0, 0.3f), 0),
    (10L, cluster(1, 0.1f), 1), (11L, cluster(1, 0.2f), 1),
    (12L, cluster(1, 0.3f), 1))

  test("ivfAssign puts each vector in its own cluster's cell") {
    val cents = Similarity.ivfCentroids(corpus)
    assert(cents.count() == 2)
    val cells = Similarity.ivfAssign(corpus, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(cells(_) == 0))
    assert(Seq(10L, 11L, 12L).forall(cells(_) == 1))
  }

  test("ivfAssign argmax kernel matches the windowed spec on the real " +
    "embeddings table (incl. tie ordering)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfCentroids(emb)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(Similarity.ivfAssign(emb, cents)) ==
      cells(Similarity.ivfAssignWindowed(emb, cents)))
    // identical-score ties resolve to the smallest label in both forms
    val spark0 = spark
    import spark0.implicits._
    val dup = Seq((0L, Seq.fill(4)(1.0f), 7), (1L, Seq.fill(4)(1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val cdup = Similarity.ivfCentroids(dup) // two identical centroids
    assert(cells(Similarity.ivfAssign(dup, cdup)) ==
      Map(0L -> 3, 1L -> 3))
    assert(cells(Similarity.ivfAssignWindowed(dup, cdup)) ==
      Map(0L -> 3, 1L -> 3))
  }

  test("ivfTopK with nprobe=1 returns only cluster-mates, ranked by cosine") {
    val top = Similarity.ivfTopK(corpus, Seq(0L, 10L), k = 5, nprobe = 1)
      .select("query_id", "vec_id", "rk").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    // query 0 (axis-0, jitter .1): nearest axis-0 mates only — never
    // the axis-1 cluster, and not itself
    assert(top(0L).toSet == Set(1L, 2L))
    assert(top(10L).toSet == Set(11L, 12L))
  }

  test("ivfTopK with nprobe=2 reaches the second cell") {
    val top = Similarity.ivfTopK(corpus, Seq(0L), k = 5, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L, 10L, 11L, 12L))
  }

  test("ivfTopK agrees with brute force on probed cells") {
    // with nprobe = all cells, IVF == brute force minus nothing
    val ivf = Similarity.ivfTopK(corpus, Seq(0L), k = 5, nprobe = 2)
      .select("vec_id", "rk").collect().sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(corpus, Seq(0L), 5)
      .select("vec_id", "rk").collect().sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("pqEncode assigns each cluster its own codeword in every " +
    "subspace (m=2 over the 4-dim two-cluster corpus)") {
    val cb = Similarity.pqCodebooks(corpus, m = 2, dims = 4)
    assert(cb.count() == 4) // 2 subspaces x 2 labels
    val codes = Similarity.pqEncode(corpus, cb, m = 2, dims = 4)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(Seq(0L, 1L, 2L).forall(codes(_) == Seq(0, 0)))
    assert(Seq(10L, 11L, 12L).forall(codes(_) == Seq(1, 1)))
  }

  test("pqTopK ADC scores equal the scaled dot against the " +
    "reconstructed (codeword-concatenated) vector, re-derived on the " +
    "driver from the real embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = 8
    val dsub = 8
    val out = Similarity.pqTopK(emb, Seq(0L, 1L), k = 5, m = m).collect()
    assert(out.length == 10 && out.forall(_.getInt(3) <= 5))
    val cbDf = Similarity.pqCodebooks(emb, m)
    val cb = cbDf.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(cb.keys.map(_._1).toSet == (0 until m).toSet)
    val codes = Similarity.pqEncode(emb, cbDf, m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(codes.values.forall(c => c.length == m && c.forall(x =>
      x >= 0 && x <= 9)))
    val units = emb
      .select(col("vec_id"), Similarity.normalized(col("embedding")).as("u"))
      .filter(col("vec_id").isin(0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    out.foreach { r =>
      val (q, v, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val qu = units(q)
      val scaled = (0 until m).map { sub =>
        val cw = cb((sub, codes(v)(sub)))
        qu.slice(sub * dsub, sub * dsub + dsub).zip(cw)
          .map { case (x, y) => math.floor(x * y * 1e16).toLong }.sum
      }.sum
      val expect = BigDecimal(scaled.toDouble / 1e16)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(adc == expect, s"ADC drifted for ($q,$v)")
    }
  }

  test("pqCodebooksRefined: one Lloyd round recovers the geometric " +
    "clusters from scrambled label seeds, then converges") {
    // labels deliberately DISAGREE with geometry: axis-0 vectors carry
    // labels 0,1,0 and axis-1 vectors labels 1,0,1, so the seeded
    // codewords are mixtures. Max-dot assignment still routes each
    // vector to the codeword its own cluster dominates, and the
    // re-mean snaps both codewords onto the pure cluster means.
    val scrambled = embeddings(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 1),
      (2L, Seq(1f, 0f, 0f, 0f), 0),
      (10L, Seq(0f, 1f, 0f, 0f), 1), (11L, Seq(0f, 1f, 0f, 0f), 0),
      (12L, Seq(0f, 1f, 0f, 0f), 1))
    val r1 = Similarity.pqCodebooksRefined(scrambled, m = 1, iters = 1,
      dims = 4)
    val cw = r1.collect()
      .map(r => r.getInt(1) -> r.getSeq[Double](2)).toMap
    // codeword 0 = pure axis-0 mean, codeword 1 = pure axis-1 mean
    assert(cw(0) == Seq(1.0, 0.0, 0.0, 0.0))
    assert(cw(1) == Seq(0.0, 1.0, 0.0, 0.0))
    // converged: a second round changes nothing
    val r2 = Similarity.pqCodebooksRefined(scrambled, m = 1, iters = 2,
      dims = 4).collect().map(r => r.getInt(1) -> r.getSeq[Double](2)).toMap
    assert(r2 == cw)
    // encode against the refined books groups by geometry, not label
    val codes = Similarity.pqEncode(scrambled, r1, m = 1, dims = 4)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(Seq(0L, 1L, 2L).forall(codes(_) == Seq(0)))
    assert(Seq(10L, 11L, 12L).forall(codes(_) == Seq(1)))
  }

  test("pqCodebooksRefined: a codeword that attracts no members holds " +
    "its seeded position (no NaN, no dropped row)") {
    // identical vectors under two labels: seeds coincide, the argmax
    // tie routes everything to label 0, label 1 goes empty
    val dup = embeddings(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f, 0f), 1))
    val seed = Similarity.pqCodebooks(dup, m = 2, dims = 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val ref = Similarity.pqCodebooksRefined(dup, m = 2, iters = 1, dims = 4)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(ref.keySet == seed.keySet) // 2 subs x 2 labels, nothing lost
    assert((0 until 2).forall(s => ref((s, 1)) == seed((s, 1))))
  }

  test("pqEncode runs unchanged on a stream: arriving vectors encode " +
    "against static codebooks per micro-batch (incremental indexing)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    // codebooks trained on the static corpus; the stream carries new
    // arrivals that must become m-byte codes incrementally
    val cb = Similarity.pqCodebooks(corpus, m = 2, dims = 4)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float], Int)]
    val q = Similarity.pqEncode(
        in.toDF().toDF("vec_id", "embedding", "label"), cb, m = 2, dims = 4)
      .select("vec_id", "codes")
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    try {
      // jittered like the training clusters so BOTH subspaces carry
      // signal (an all-zero subvector would tie to the smallest label)
      in.addData((100L, Seq(1f, 0f, 0.2f, 0f), 9),
        (101L, Seq(0f, 1f, 0f, 0.2f), 9))
      q.processAllAvailable()
      val rows = spark.table("pq_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(rows(100L) == Seq(0, 0) && rows(101L) == Seq(1, 1))
    } finally q.stop()
  }

  test("pqTopKReranked with a full-corpus shortlist recovers the " +
    "exact brute-force ranking") {
    val rr = Similarity.pqTopKReranked(corpus, Seq(0L), k = 5,
        shortlist = 5, m = 2, dims = 4)
      .select("vec_id", "rk").collect().sortBy(_.getInt(1))
      .map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(corpus, Seq(0L), 5)
      .select("vec_id", "rk").collect().sortBy(_.getInt(1))
      .map(_.getLong(0)).toSeq
    assert(rr == brute)
  }

  test("ivfCentroidsRefined: iters=0 equals the seed; one Lloyd round " +
    "on a label-separable corpus is a fixed point of the assignment") {
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(cents(Similarity.ivfCentroidsRefined(corpus, 0)) ==
      cents(Similarity.ivfCentroids(corpus)))
    val refined = Similarity.ivfCentroidsRefined(corpus, 1)
    val cells = Similarity.ivfAssign(corpus, refined)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the two clusters are linearly separable: re-meaning members of a
    // correct assignment reproduces an assignment-equivalent quantizer
    assert(Seq(0L, 1L, 2L).forall(cells(_) == 0))
    assert(Seq(10L, 11L, 12L).forall(cells(_) == 1))
  }

  test("ivfPqTopK with nprobe=1 stays within the query's probed cell") {
    val top = Similarity.ivfPqTopK(corpus, Seq(0L, 10L), k = 5, nprobe = 1,
        m = 2, ksub = 16, iters = 1, dims = 4)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // residual-ADC ranking still only ever touches probed-cell members
    assert(top(0L) == Set(1L, 2L))
    assert(top(10L) == Set(11L, 12L))
  }

  test("IVF×PQ beats plain PQ's recall while scoring a fraction of its rows " +
    "(real embeddings table)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rec = Similarity.annRecall(emb, Seq(0L, 1L, 2L, 3L, 4L), 10)
      .select("query_id", "pq_recall", "ivfpq_recall").collect()
    assert(rec.length == 5)
    rec.foreach { r =>
      assert(r.getDouble(2) >= r.getDouble(1),
        s"query ${r.getLong(0)}: ivfpq ${r.getDouble(2)} < pq ${r.getDouble(1)}")
    }
    // scored-row budgets: plain PQ ADC-scans the WHOLE corpus per query;
    // IVF×PQ touches only members of the nprobe=3 probed cells — bounded
    // by 3 × the largest cell, well under the corpus
    val n = emb.count()
    val cellSizes = Similarity.ivfAssign(emb, Similarity.ivfCentroids(emb))
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(3 * cellSizes.max < n - 1,
      s"probed-cell budget 3×${cellSizes.max} is not under the corpus $n")
  }

  test("semanticDedup keeps one survivor (min vec_id) per embedding " +
    "near-dup component") {
    // the two jitter clusters are internally cosine-close (>= 0.9) and
    // mutually orthogonal: each collapses to its min id
    val kept = Similarity.ivfCentroids(corpus) // force corpus shape reuse
    assert(kept.count() == 2)
    val survivors = Dedup.semanticDedup(corpus, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 10L), s"survivors: $survivors")
  }

  test("lshTopK maxBucket drops hot buckets entirely") {
    // all six vectors land in some bucket; cap of 1 removes every
    // bucket with >1 member, so no pairs remain
    val capped = Similarity.lshTopK(corpus, k = 3, planes = 2, dims = 4,
      maxBucket = 1)
    assert(capped.count() == 0)
    val uncapped = Similarity.lshTopK(corpus, k = 3, planes = 2, dims = 4)
    assert(uncapped.count() > 0)
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private def docs(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, docSchema)

  test("gopher kernel ≡ column form (signals, verdicts, row drops)") {
    val d = spark.createDataFrame(Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog again and " +
        "again with more words to cross the minimum threshold easily"),
      Row(2L, ""),
      Row(3L, null),
      Row(4L, "trailing spaces here   "),
      Row(5L, "😀 non 😀 bmp 😀 characters and the usual words in a " +
        "document about emoji handling for code point lengths"),
      Row(6L, "### sym ### ratio ### test ... with ... ellipses ... " +
        "and the other # markers #"),
      Row(7L, (1 to 40).map(_ => "rep rep rep").mkString(" ")),
      Row(8L, "a b"),
      Row(9L, "the and for are but not you all can had her was one " +
        "our out day get has him his how man new now old see two way")
    ).asJava, docSchema)
    def rows(df: DataFrame) = df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(TextAnalysis.gopherFilter(d, 10, 1000)) ==
      rows(TextAnalysis.gopherFilterColumns(d, 10, 1000)))
    assert(rows(TextAnalysis.gopherFilter(d)) ==
      rows(TextAnalysis.gopherFilterColumns(d)))
  }

  test("gopherKeep survivors == gopherFilter(keep) survivors, with " +
    "input columns preserved") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog and then " +
        "the other animals watched it run far away from here today"),
      (2L, "short doc"),
      (3L, "### ### ### ### ### ### ### ### ### ### ### ### ### ### " +
        "### ### ### ### ### ### ### ### ### ### ###"),
      (4L, (1 to 30).map(_ => "the cat sat").mkString(" ")),
      (5L, "a reasonable document with some stopwords in it and the " +
        "usual mixture of words people write about various things " +
        "every day without much repetition at all here"))
    val viaFilter = TextAnalysis.gopherFilter(d, 10, 1000)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val kept = TextAnalysis.gopherKeep(d, 10, 1000)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet
      == viaFilter)
  }

  test("ngramJaccardPairs finds near-dups via shared shingle pass") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tomorrow"),
      (3L, "completely different words about nothing in particular here"))
    val pairs = Dedup.ngramJaccardPairs(d, w = 3, threshold = 0.3,
      k = 8, bands = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("banded LSH finds the cluster-mates the single table finds, on tight clusters") {
    val banded = Similarity.lshTopKBanded(corpus, k = 3, bands = 2,
      planesPerBand = 2, dims = 4)
      .select("query_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(banded.nonEmpty)
    // each vector has exactly 2 true cluster-mates (cosine >> 0); any
    // colliding cross-cluster candidate has cosine 0, so the top-2
    // ranks must stay within the query's own axis cluster
    assert(banded.filter(_._3 <= 2).forall { case (q, v, _) =>
      (q < 10L) == (v < 10L) })
  }

  test("nearDupComponents closes chains into min-labeled clusters") {
    val spark0 = spark
    import spark0.implicits._
    // chain 1-2-3 (1-3 never paired directly) and isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    // union-find fast path (default) and the distributed min-label loop
    // (forced via unionFindMaxEdges = 0) must agree exactly
    val fast = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val looped = Dedup.nearDupComponents(pairs, unionFindMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expect)
    assert(looped == expect)
  }

  test("nearDupComponents paths agree on a long chain with merging branches") {
    val spark0 = spark
    import spark0.implicits._
    // a 12-node chain plus a branch merging two chains through 50
    val chain = (0L until 11L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((20L, 21L), (21L, 50L), (30L, 31L), (31L, 50L)))
      .toDF("doc_a", "doc_b")
    val fast = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val looped = Dedup.nearDupComponents(pairs, unionFindMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == looped)
    assert((0L to 11L).forall(fast(_) == 0L))
    assert(Seq(20L, 21L, 30L, 31L, 50L).forall(fast(_) == 20L))
  }

  test("SessionBridge probes run under the base session's conf as it is " +
    "at probe time, plus the override") {
    import org.apache.spark.sql.graft.SessionBridge
    val key = "spark.sql.caseSensitive"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      // `V` resolves against `v` only while resolution ignores case;
      // the probe re-analyzes the plan in its own session
      val df = spark.range(3).toDF("v").select("V")
      val probe = () => SessionBridge.collectWithConf(df,
        "spark.sql.limit.initialNumPartitions" -> "100000")
      assert(probe().length == 3)
      spark.conf.set(key, "true")
      // a probe session kept from the first call would still ignore case
      intercept[org.apache.spark.sql.AnalysisException](probe())
      // the override never reaches the base session
      assert(!spark.conf.getOption("spark.sql.limit.initialNumPartitions")
        .contains("100000"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("minhash signature is identical through the shared-shingle path") {
    val d = docs((1L, "a b c d e f"), (2L, "x y z w v u"))
    val direct = Dedup.minhashSignature(d, k = 4, w = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val shared = Dedup.minhashSignatureFromShingles(Dedup.shingles(d, 3), 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(direct == shared)
  }

  test("simhashPairs pigeonhole blocking finds exactly the brute-force pairs") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "entirely different words about spark catalyst plans"),
      (5L, "entirely different words about spark catalyst rules"),
      (6L, "unrelated corpus noise tokens alpha beta gamma delta"))
    val fps = Dedup.simhash(d, 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k >= 32 exercises the floor/ceil bit partition: every block must
    // stay non-empty or the equi-join degrades to all-pairs
    for (k <- Seq(3, 10, 35, 63)) {
      val expected = (for {
        a <- fps.keys; b <- fps.keys if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= k
      } yield (a, b, h)).toSet
      val got = Dedup.simhashPairs(d, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"maxHamming=$k")
    }
  }

  test("repetitionSignals: duplicate n-gram fractions (Gopher A1.1 shape)") {
    // "a b a b a": bigrams [a b, b a, a b, b a] -> top 2/4, dup (4-2)/4
    //              trigrams [a b a, b a b, a b a] -> dup (3-2)/3
    val d = docs((1L, "a b a b a"), (2L, "w x y z"))
    val got = graft.pipeline.TextAnalysis.repetitionSignals(d)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(got(0) == ((1L, 0.5, 0.5, round4(1.0 / 3))))
    // all-distinct doc: no duplicates anywhere
    assert(got(1) == ((2L, round4(1.0 / 3), 0.0, 0.0)))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("piiScan counts email / ipv4 / phone spans") {
    val d = docs(
      (1L, "reach me at jane.doe@corp.example.com or +1 555-123-4567"),
      (2L, "hosts 10.0.0.1 and 192.168.1.2 but not 1.2.3"),
      (3L, "plain text without identifiers"))
    val got = graft.pipeline.TextAnalysis.piiScan(d).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 1, 0, 1), (2L, 0, 2, 0), (3L, 0, 0, 0)))
  }

  test("simhashPairs maxBucket drops hot blocks") {
    // identical docs share every block: a cap of 1 kills every bucket
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "a b c"))
    assert(Dedup.simhashPairs(d, 3).count() == 3)
    assert(Dedup.simhashPairs(d, 3, maxBucket = 1).count() == 0)
  }

  private def corpusDocs(rows: (Long, String, String, String)*): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3, r._4)).asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType))))

  test("sourceCap keeps the maxPerSource lowest-ordered docs per source") {
    val d = corpusDocs(
      (1L, "x", "en", "a"), (2L, "x", "en", "a"), (3L, "x", "en", "a"),
      (4L, "x", "en", "b"), (5L, "x", "en", "b"))
    val kept = graft.pipeline.Curation.sourceCap(d, 2)
      .select("doc_id", "source_rank").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(kept.toSeq == Seq((1L, 1), (2L, 2), (4L, 1), (5L, 2)))
  }

  test("splitAssign is deterministic and thresholds match split_u") {
    val d = corpusDocs((1 to 200).map(i =>
      (i.toLong, "t", "en", "s")): _*)
    val a = graft.pipeline.Curation.splitAssign(d, 0.8, 0.1)
      .select("doc_id", "split_u", "split").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    val b = graft.pipeline.Curation.splitAssign(d, 0.8, 0.1)
      .select("doc_id", "split_u", "split").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq) // same hash -> same assignment, every run
    assert(a.forall { case (_, u, s) => u >= 0.0 && u < 1.0 &&
      s == (if (u < 0.8) "train" else if (u < 0.9) "val" else "test") })
    // all three splits are populated at n=200 with these fractions
    assert(a.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
  }

  test("streamingExact keeps first arrival per content hash within the watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "arrived")
    val q = Dedup.streamingExact(stream, "arrived", "10 seconds")
      .writeStream.format("memory").queryName("sdedup").outputMode("append")
      .start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData((1L, "alpha", t(100)), (2L, "alpha", t(101)),
        (3L, "beta", t(102)))
      q.processAllAvailable()
      // duplicate arriving inside the horizon is suppressed
      input.addData((4L, "alpha", t(105)))
      q.processAllAvailable()
      val got = spark.table("sdedup").select("doc_id").as[Long]
        .collect().sorted
      assert(got.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("packSequences: chunks follow the exclusive running token sum") {
    val d = corpusDocs(
      (1L, "a b c", "en", "s"), (2L, "d e", "en", "s"),
      (3L, "f", "en", "s"), (4L, "g h i j k", "en", "s"))
    val got = graft.pipeline.Curation.packSequences(d, budget = 4, nShards = 1)
      .select("doc_id", "start_tok", "chunk", "chunk_offset")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // token counts 3,2,1,5 -> starts 0,3,5,6 -> budget-4 chunks
    assert(got.toSeq == Seq((1L, 0L, 0L, 0L), (2L, 3L, 0L, 3L),
      (3L, 5L, 1L, 1L), (4L, 6L, 1L, 2L)))
  }

  test("bm25: rare query terms outrank common ones, length " +
    "normalization favors the shorter doc, non-matching docs absent") {
    val spark0 = spark
    import spark0.implicits._
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // "needle" is rare (1 doc), "common" is everywhere
      (1L, s"needle $filler"),
      (2L, s"common $filler"),
      (3L, s"common $filler $filler"), // longer doc, same tf
      (4L, filler),                    // no query terms at all
      (5L, s"common $filler"),
      (6L, s"common needle $filler"))  // both terms
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, Seq("needle", "common"), topK = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getInt(2), r.getInt(3))).toMap
    assert(!got.contains(4L)) // no hits, no row
    // both-terms doc ranks first; rare-term-only beats common-only
    assert(got(6L)._3 == 1 && got(6L)._2 == 2)
    assert(got(1L)._1 > got(2L)._1)
    // same tf, longer doc → lower score (dl normalization)
    assert(got(2L)._1 > got(3L)._1)
    // identical docs tie exactly, rank broken by doc_id
    assert(got(2L)._1 == got(5L)._1 && got(2L)._3 < got(5L)._3)
  }

  test("ngramJaccardPairs group synthesis ≡ self-join+distinct+verify " +
    "form on randomized corpora (dup clusters, null text, cap engaged)") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(61)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "fox", "golf", "hotel", "india", "julia", "kilo", "lima")
    for (trial <- 0 until 3) {
      val base = (0 until 40).map { i =>
        (0 until 8 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      // each base doc gets a cluster of near-copies (drop/append a word)
      val rows = base.zipWithIndex.flatMap { case (t, i) =>
        (0 until 1 + rnd.nextInt(5)).map { c =>
          val words = t.split(" ")
          val mut =
            if (c == 0) t
            else if (rnd.nextBoolean()) words.drop(1).mkString(" ")
            else (words :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")
          (i * 100L + c, mut)
        }
      } ++ Seq((9000L, null: String), (9001L, null: String),
        (9002L, ""), (9003L, ""))
      val docs = rows.toDF("doc_id", "text")
      // maxBucket = 3 forces the hot-cap into play on the larger
      // clusters; maxInline = 4 truncates nearly every inline prefix
      // so the -2 re-verify join path carries the whole answer, and
      // maxInline = 12 mixes decided-in-group with re-verified pairs
      for (cap <- Seq(3, 1000); inline <- Seq(4, 12, 1 << 20)) {
        val fast = graft.pipeline.Dedup
          .ngramJaccardPairs(docs, 3, 0.3, 16, 8, cap, inline)
          .collect().map(_.toSeq).toSet
        val spec = graft.pipeline.Dedup
          .ngramJaccardPairsJoin(docs, 3, 0.3, 16, 8, cap)
          .collect().map(_.toSeq).toSet
        assert(fast == spec, s"trial $trial cap $cap inline $inline: " +
          s"only-fast=${(fast -- spec).take(3)} only-spec=${(spec -- fast).take(3)}")
      }
    }
  }

  test("SegmentsKernel ≡ slice-per-segment column form (double spaces, " +
    "trailing/leading spaces, empty, single word, exact multiples)") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(29)
    val texts = Seq("", " ", "  ", "a", "a b", "a  b", "a b ", " a b",
      (1 to 10).map("w" + _).mkString(" "),        // exact multiple
      (1 to 11).map("w" + _).mkString(" "),        // remainder 1
      (1 to 9).map("w" + _).mkString(" ")) ++      // under one segment
      (0 until 30).map(_ => (0 until rnd.nextInt(40))
        .map(_ => if (rnd.nextBoolean()) s"t${rnd.nextInt(9)}" else "")
        .mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (segWords <- Seq(1, 3, 10)) {
      val viaKernel = graft.pipeline.Curation
        .segmented(docs, segWords).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val viaColumns = graft.pipeline.Curation
        .segmentedColumns(docs, segWords).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(viaKernel == viaColumns, s"segWords=$segWords: " +
        s"only-kernel=${(viaKernel -- viaColumns).take(3)} " +
        s"only-columns=${(viaColumns -- viaKernel).take(3)}")
    }
  }

  test("interBounded: exact on complete arrays, -1 only when provable, " +
    "-2 routes to re-verify (randomized vs exact jaccard)") {
    val rnd = new scala.util.Random(17)
    def ad(xs: Seq[Long]) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        xs.sorted.toArray)
    for (_ <- 0 until 2000) {
      val na = rnd.nextInt(30)
      val nb = rnd.nextInt(30)
      val pool = (0 until 40).map(_.toLong)
      val a = rnd.shuffle(pool).take(na).sorted
      val b = rnd.shuffle(pool).take(nb).sorted
      val t = Seq(0.0, 0.3, 0.5, 0.9)(rnd.nextInt(4))
      val cap = 1 + rnd.nextInt(30)
      val inter = a.toSet.intersect(b.toSet).size
      val uni = a.toSet.union(b.toSet).size
      val j = if (uni == 0) 0.0 else inter.toDouble / uni
      val r = graft.pipeline.NgramJaccardKernel.interBounded(
        ad(a.take(cap)), ad(b.take(cap)), na, nb, t)
      if (na <= cap && nb <= cap)
        assert(r == inter || (r == -1 && j < t),
          s"complete arrays: na=$na nb=$nb cap=$cap t=$t got $r")
      else {
        // truncated: -1 must be PROVABLY below threshold; a
        // qualifying pair must never be dropped
        if (j >= t) assert(r != -1,
          s"false drop: j=$j >= t=$t na=$na nb=$nb cap=$cap got $r")
        assert(r == -1 || r == -2,
          s"truncated arrays must defer or refute, got $r")
      }
    }
  }
}
