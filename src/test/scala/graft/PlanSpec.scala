package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.EventView
import graft.operators.{Index, Windows}
import graft.pipeline.{Dedup, Similarity}

/** Physical-plan audits: the 100 TB claims, asserted. Each test pins the
  * shape that makes an operator scale — filter pushdown into the scan,
  * TakeOrderedAndProject instead of a global window sort, broadcast for
  * the small join side, and no cartesian product anywhere in the
  * registered query set. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("event filters push down to the parquet scan") {
    val df = EventView(spark, dir).filter(col("event_type") === "error")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"),
      s"filter not pushed:\n$p")
  }

  test("projection prunes the parquet read schema") {
    val df = EventView(spark, dir).select("host")
    val p = plan(df)
    // only the columns host derives from are read
    assert(p.contains("ReadSchema: struct<user_id:bigint>"), s"no pruning:\n$p")
  }

  test("topK compiles to TakeOrderedAndProject, not a global window sort") {
    val p = plan(Windows.topK(EventView(spark, dir), 5, Seq("host", "service")))
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("index snapshot is one hash exchange on the pkey, no global sort") {
    val p = plan(Index.snapshot(EventView(spark, dir)))
    assert(p.contains("hashpartitioning(host"), s"plan:\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort leaked:\n$p")
  }

  test("brute-force ANN broadcasts the query side") {
    val (brutePlan, brutePinned) = Similarity.bruteForceTopKPlan(
      spark.read.parquet(s"$dir/embeddings.parquet"), Seq(0L, 1L), 3)
    val p = plan(brutePlan)
    brutePinned.foreach(_.unpersist())
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("no registered query plans a CartesianProduct") {
    // bucket/band equijoins must stay equijoins; a cartesian product in
    // any of these is the quadratic blowup the LSH design exists to avoid
    val suspects = Seq(
      Dedup.minhashPairs(spark.read.parquet(s"$dir/documents.parquet"), 16, 4, 0.5),
      Dedup.ngramJaccardPairs(spark.read.parquet(s"$dir/documents.parquet")),
      Dedup.embeddingNearDups(spark.read.parquet(s"$dir/embeddings.parquet"), 0.4),
      Dedup.semanticDedup(spark.read.parquet(s"$dir/embeddings.parquet"), 0.4),
      graft.pipeline.Curation.curationFunnel(
        spark.read.parquet(s"$dir/documents.parquet")),
      Similarity.lshTopK(spark.read.parquet(s"$dir/embeddings.parquet"), 5))
    suspects.foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    }
  }

  test("index point-lookup fast path filters before the snapshot window (index.clj:44-56)") {
    val ev = EventView(spark, dir)
    val fast = Index.searchEvents(ev, """host = "5" and service = "error"""")
    val p = plan(fast)
    // the pkey equalities must appear below the window: the scan's output
    // is already filtered (pushed to the parquet read of event_type)
    assert(p.contains("PushedFilters: [EqualNullSafe(event_type,error)]"),
      s"service equality not pushed into the scan:\n$p")
    // and results agree with the generic full-scan search
    val slow = Index.search(Index.snapshot(ev), """host = "5" and service = "error"""")
    assert(fast.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      slow.select("event_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("star-schema dimension chain joins by broadcast, fact side never shuffles") {
    val p = plan(SparkEntry.queries("q_tpch_regional")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled:\n$p")
  }

  test("IVF assignment is a join-free narrow map (literal centroids); " +
    "corpus side stays un-shuffled") {
    // r21: the tiny centroid table is collected and embedded as a
    // literal (the hyperplane move) — stronger than the former
    // broadcast-join pin: assignment has NO join, NO exchange, NO
    // window; the corpus is scored in one narrow codegen'd pass
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Similarity.ivfAssign(emb, Similarity.ivfCentroids(emb)))
    assert(!p.contains("Join"), s"assignment still joins:\n$p")
    assert(!p.contains("Exchange"), s"corpus side shuffled:\n$p")
    // the argmax kernel replaced the corpus×C row_number: the corpus is
    // scored in ONE narrow pass — no window, no per-vector sort
    assert(!p.contains("Window"), s"assignment still windows the corpus:\n$p")
  }

  test("IVF probe search broadcasts probes; no cartesian product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (ivfPlan, ivfPinned) = Similarity.ivfTopKPlan(emb, Seq(0L, 1L), 3,
      nprobe = 2)
    val p = plan(ivfPlan)
    ivfPinned.foreach(_.unpersist())
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
  }

  test("IVF×PQ: codebooks/probes/LUTs broadcast, corpus side never reshuffled") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (ivfpqPlan, ivfpqPinned) = Similarity.ivfPqTopKPlan(emb,
      Seq(0L, 1L), 3, nprobe = 2)
    val p = plan(ivfpqPlan)
    ivfpqPinned.foreach(_.unpersist())
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"small sides not broadcast:\n$p")
    // the encoded corpus joins probes+LUTs by broadcast: a sort-merge
    // join here would reshuffle the full corpus per query batch
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled:\n$p")
  }

  test("IVFADC 1K-query batch: per-query LUTs still broadcast, corpus " +
    "never reshuffled (the documented query-batch bound)") {
    // 1 000 real queries against the sf0.1 corpus: the LUT relation is
    // |queries| x nprobe rows of m maps x ksub longs (~6 MB) — must
    // ride a broadcast, not flip the ADC join to a sort-merge exchange
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val ids = (0L until 1000L).toSeq
    val (df, pinned) = Similarity.ivfPqTopKPlan(emb, ids, 3)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"LUT side not broadcast:\n$p")
    // and it actually executes: k rows per query land
    assert(df.count() == 3000L)
    pinned.foreach(_.unpersist())
  }

  test("every top-k ranker keeps Spark's rank-limit pushdown (WindowGroupLimit)") {
    // adcTopK/ivfTopK/lshTopK/ivfPqTopK/tfIdf all rank via
    // row_number() <= k; WindowGroupLimit bounds the per-partition
    // buffer to ~k rows BEFORE the full window sort materializes. An
    // expression change that defeats the pushdown would silently
    // reintroduce a full-corpus-per-query shuffle — assert the node.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the query-batch entry points evaluate eagerly (cache discipline),
    // so the audit reads their lazy *Plan variants
    for ((name, (df, pinned)) <- Seq(
        "bruteForceTopK" -> Similarity.bruteForceTopKPlan(emb, Seq(0L, 1L), 3),
        "lshTopK" -> (Similarity.lshTopK(emb, 3), Seq.empty[org.apache.spark.sql.DataFrame]),
        "ivfTopK" -> Similarity.ivfTopKPlan(emb, Seq(0L, 1L), 3),
        "pqTopK" -> Similarity.pqTopKPlan(emb, Seq(0L, 1L), 3),
        "ivfPqTopK" -> Similarity.ivfPqTopKPlan(emb, Seq(0L, 1L), 3),
        "tfIdf" -> (graft.pipeline.TextAnalysis.tfIdf(docs), Seq.empty[org.apache.spark.sql.DataFrame]),
        "bm25" -> (graft.pipeline.TextAnalysis.bm25(docs,
          Seq("hash", "join")), Seq.empty[org.apache.spark.sql.DataFrame]))) {
      val p = plan(df)
      pinned.foreach(_.unpersist())
      // partitioned rankers get WindowGroupLimit; the UNpartitioned
      // bm25 ranker gets the stronger rewrite (LimitPushDownThroughWindow
      // → TakeOrderedAndProject). Either way the full sort never
      // materializes more than ~k rows per partition.
      assert(p.contains("WindowGroupLimit") ||
          p.contains("TakeOrderedAndProject"),
        s"$name: rank-limit pushdown did not engage:\n$p")
    }
  }

  test("winnowOverlapPairs: map-side partial aggregation engages on the " +
    "shared-fingerprint count; pair relation exchanges once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.winnowOverlapPairs(docs))
    // the post-join groupBy(doc_a, doc_b) count must split into
    // partial + final HashAggregate around its exchange — without the
    // partial, every shared-fp occurrence of a hot pair crosses the
    // wire instead of one pre-summed row per (pair, task)
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no map-side partial count:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"partial+final aggregate pair missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // exactly two exchanges: the cap's fp partitioning (which the
    // member-list aggregation reuses — pair synthesis is in-partition)
    // and the final pair count's
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"want 2 hash exchanges, got $exchanges:\n$p")
  }

  test("cmsHeavyHitters pass 2: the literal-sketch threshold filter is " +
    "a pure map BELOW the only exchange — non-heavy rows never shuffle") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("string").as("v"))
    val p = plan(graft.pipeline.Sketches.cmsHeavyHitters(ev, "v", 5))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"want 1 hash exchange, got $exchanges:\n$p")
    // the estimate filter must run before the aggregation exchange:
    // everything below the Exchange line is map-side, and the filter's
    // least(...) estimate probe appears only there
    val belowExchange = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(belowExchange.contains("Filter") && belowExchange.contains("least"),
      s"threshold filter not map-side:\n$p")
  }

  test("asOfJoin shuffles ONCE (union rides one keyed window pass); " +
    "rangeJoin plans a hash equi-join, never a cartesian/theta join") {
    val e = graft.model.EventView(spark, dir)
    val asof = plan(graft.operators.Temporal.asOfJoin(
      e.filter(col("service") === "error")
        .select("event_id", "host", "time_s"),
      e.filter(col("service") === "purchase")
        .select("host", "time_s", "event_id", "metric"),
      Seq("host"), "time_s", Seq("event_id", "metric"), 21600))
    // the right side's per-(key,time) reduction partial-aggregates
    // map-side and shares the window's host partitioning; the only
    // full-width exchanges are the keyed one(s) feeding the window
    // sort — and NEVER a range probe or broadcast of either side
    val asofExchanges = "Exchange hashpartitioning".r.findAllIn(asof).length
    assert(asofExchanges <= 2, s"want <=2 hash exchanges:\n$asof")
    assert(!asof.contains("CartesianProduct") &&
      !asof.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$asof")
    val iv = e.filter(col("service") === "purchase")
      .select(col("event_id").as("interval_id"), col("host"),
        col("time_s").as("start_s"), (col("time_s") + 900).as("end_s"))
    val rj = plan(graft.operators.Temporal.rangeJoin(
      e.filter(col("service") === "error")
        .select("event_id", "host", "time_s"),
      iv, Seq("host"), "time_s", "start_s", "end_s", 900))
    assert(!rj.contains("CartesianProduct") &&
      !rj.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to theta join:\n$rj")
  }

  test("bigramLikelihood: count tables join on their own keys (no " +
    "cartesian product beyond the broadcast vocab scalar), and a " +
    "repeated phrase outscores unique text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.bigramLikelihood(docs))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"count aggregations lost their partials:\n$p")
    // behavior: a corpus-dominant repeated phrase must score far above
    // a one-off word salad under the corpus-trained model
    val spark0 = spark
    import spark0.implicits._
    val tiny = (Seq.fill(9)("the quick brown fox jumps").zipWithIndex.map {
      case (t, i) => (i.toLong, t)
    } :+ (9L, "zebra quartz lonely vortex glyph"))
      .toDF("doc_id", "text")
    val scores = graft.pipeline.TextAnalysis.bigramLikelihood(tiny)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(0L) > 2 * scores(9L),
      s"repeated ${scores(0L)} vs unique ${scores(9L)}")
    // single-token (and empty) docs must DROP, not crash or emit
    // phantom bigrams: sequence(1, 0) is Spark's DESCENDING [1, 0]
    val degenerate = Seq((1L, "hello"), (2L, ""), (3L, "two words"))
      .toDF("doc_id", "text")
    val lm = graft.pipeline.TextAnalysis.bigramLikelihood(degenerate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lm == Set(3L), s"degenerate docs leaked: $lm")
    val iw = graft.pipeline.TextAnalysis
      .importanceWeights(degenerate, degenerate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(iw == Set(3L), s"degenerate docs leaked: $iw")
  }

  test("importanceWeights rank target-domain documents above the rest " +
    "(English-target DSIR on the real table)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val iw = graft.pipeline.TextAnalysis.importanceWeights(
        docs, docs.filter(col("lang") === "en"))
      .join(docs.select("doc_id", "lang"), "doc_id")
    val means = iw.groupBy(col("lang") === "en")
      .agg(avg(col("importance")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"en mean ${means(true)} <= other mean ${means(false)}")
  }

  test("line decoders are narrow: no exchange before the parse projection") {
    val lines = spark.createDataFrame(
      Seq(Tuple1("api.req;dc=a 1.5 1000"), Tuple1("bad")).map(t => t)
    ).toDF("line")
    val p = plan(graft.sources.LineProtocols.decodeGraphite(lines))
    assert(!p.contains("Exchange"), s"decode should be a pure map:\n$p")
  }

  test("langIdNgram predict and Unigram encode are kernel projections: " +
    "no exchange, no join in the scoring plan") {
    val spark0 = spark
    import spark0.implicits._
    val docs = (0 until 50).map(i =>
      (i.toLong, "the quick brown fox jumps over it all", "en"))
      .toDF("doc_id", "text", "lang")
    // langIdNgram: pass 1 (the bounded sufficient statistic) collects
    // eagerly inside the call; the RETURNED plan is the predict pass —
    // one narrow scorer projection over the scan
    val lp = plan(graft.pipeline.TextAnalysis.langIdNgram(docs))
    assert(!lp.contains("Exchange") && !lp.contains("Join"),
      s"predict should be a pure map:\n$lp")
    // unigram encode under a trained model: same — the memoized DP
    // kernel rides the scan, no (doc, word) exchange
    val model = graft.pipeline.Unigram.trainModel(docs)
    val up = plan(graft.pipeline.Unigram.encode(docs, model))
    assert(!up.contains("Exchange") && !up.contains("Join"),
      s"encode should be a pure map:\n$up")
  }

  test("deps rule compilation runs a bounded number of jobs, never per-leaf") {
    import graft.operators.Deps
    val ev = EventView(spark, dir)
    // per-leaf actions would make the 6-leaf rule cost strictly more
    // jobs than the 1-leaf rule; the batched design costs the same
    // (1 localCheckpoint + 1 global-leaf aggregation, however many
    // AQE stage-jobs each turns into — localhost marks are lazy joins)
    val small = Deps.Matches(Map("service" -> "purchase"))
    val big = Deps.All(Seq(
      Deps.Any(Seq(
        Deps.Matches(Map("service" -> "purchase")),
        Deps.Matches(Map("service" -> "error", "state" -> "critical")),
        Deps.Matches(Map("state" -> "ok")),
        Deps.Matches(Map("service" -> "view")))),
      Deps.Localhost(Deps.Any(Seq(
        Deps.Matches(Map("service" -> "purchase", "state" -> "ok")),
        Deps.Matches(Map("service" -> "error")))))))
    def jobsFor(rule: Deps.Rule): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = Deps.tagSatisfied(ev, Index.liveAt(ev, lit(1706620000L)), rule)
        assert(out.columns.contains("deps_satisfied"))
        assert(!plan(out).contains("CartesianProduct"))
        // listener posts asynchronously: poll until the count settles
        // (a fixed sleep is flaky on a loaded machine, and two lagging
        // counts would compare 0 <= 0 vacuously)
        var prev = -1
        var cur = jobs.get()
        var spins = 0
        while (cur != prev && spins < 25) {
          Thread.sleep(200); prev = cur; cur = jobs.get(); spins += 1
        }
        cur
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (j1, j6) = (jobsFor(small), jobsFor(big))
    assert(j1 >= 1, "listener saw no jobs — the probe went vacuous")
    assert(j6 <= j1, s"job count scaled with leaf count: $j1 -> $j6")
  }

  test("windowed aggregation keeps partial (map-side) aggregation") {
    val p = plan(Windows.fixedOffsetTimeWindow(EventView(spark, dir), 3600,
      Seq("service")))
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"plan:\n$p")
  }

  test("rateExpiring: one linear plan — single scan, single aggregation, no Union") {
    val df = Windows.rateExpiring(EventView(spark, dir), 60, Seq("service"))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the lead() window runs over AGGREGATED buckets (rows bounded by
    // time-range/interval, independent of event count), and live+fill
    // emissions ride ONE explode — a Union shape would re-execute the
    // aggregation and re-scan the source once per branch
    assert(p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("Union"), s"union re-executes the agg subtree:\n$p")
    assert("FileScan".r.findAllIn(p).length == 1, s"source scanned twice:\n$p")
    // max_by(struct) forces SortAggregate; partial + final must survive
    assert("partial_max_by".r.findAllIn(p).length >= 1 &&
      "Aggregate".r.findAllIn(p).length >= 2,
      s"bucket aggregation missing partials:\n$p")
  }

  test("fillIn and interpolateConstant scan the source exactly once") {
    // the spans+join formulation re-executed the bucket aggregation on
    // both join sides (no exchange reuse across differently-pruned
    // branches) — the lead()+explode shape has one scan, one agg
    for (df <- Seq(
      Windows.fillIn(EventView(spark, dir), 3600, Seq("service"), 0.0),
      Windows.interpolateConstant(EventView(spark, dir), 3600, Seq("host")))) {
      val p = plan(df)
      assert("FileScan".r.findAllIn(p).length == 1, s"source scanned twice:\n$p")
      assert(!p.contains("Join"), s"join shape crept back:\n$p")
    }
  }

  test("repetitionSignals is exchange-free: a per-doc kernel riding the scan") {
    // r6: the (doc, gram) explode-and-aggregate became a pure map-side
    // kernel — a per-document function needs NO shuffle; assert none
    // crept back (the aggregation spec, kept for parity, would show
    // two Exchanges here)
    val p = plan(graft.pipeline.TextAnalysis.repetitionSignals(
      spark.read.parquet(s"$dir/documents.parquet")))
    assert(!p.contains("Exchange"), s"repetition should ride the scan:\n$p")
    assert(p.contains("Generate"), s"expected the inline generate:\n$p")
  }

  test("randomProject is exchange-free: one narrow pass over the corpus") {
    // the JL compression pass must ride the scan — normalize + all
    // outDims projections are per-row kernels, so a 100 TB corpus
    // projects without a single shuffle
    val p = plan(graft.pipeline.Similarity.randomProject(
      spark.read.parquet(s"$dir/embeddings.parquet"), 16))
    assert(!p.contains("Exchange"), s"projection should ride the scan:\n$p")
  }

  test("influx line encode and piiScan are pure projections, no exchange") {
    val ev = EventView(spark, dir).filter(col("metric").isNotNull)
      .select(col("event_id"), graft.sinks.Metrics.influxLine.as("line"))
    assert(!plan(ev).contains("Exchange"), s"encode should be a pure map")
    val pii = graft.pipeline.TextAnalysis.piiScan(
      spark.read.parquet(s"$dir/documents.parquet"))
    assert(!plan(pii).contains("Exchange"), s"piiScan should be a pure map")
  }

  test("prometheus/opentsdb/graphite-path encoders are pure projections, no exchange") {
    val base = EventView(spark, dir).filter(col("metric").isNotNull)
    for ((name, c) <- Seq(
        "prometheusLine" -> graft.sinks.Metrics.prometheusLine,
        "opentsdbLine" -> graft.sinks.Metrics.opentsdbLine,
        "graphitePathPercentiles" ->
          graft.sources.LineProtocols.graphitePathPercentiles)) {
      val p = plan(base.select(col("event_id"), c.as("out")))
      assert(!p.contains("Exchange"), s"$name should be a pure map:\n$p")
    }
    // the combined Gopher filter rides the scan — no shuffle at 100 TB
    val gf = plan(graft.pipeline.TextAnalysis.gopherFilter(
      spark.read.parquet(s"$dir/documents.parquet")))
    assert(!gf.contains("Exchange"), s"gopherFilter should be a pure map:\n$gf")
  }

  test("default LSH cap rides the self-join's own exchange: banded " +
    "relation shuffled once, upstream kernels run once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // executed (AQE-final) plans: the reuse decision is made at runtime
    for ((name, q, key) <- Seq(
        ("lshCandidates", Dedup.lshCandidates(docs), "band"),
        ("simhashPairs", Dedup.simhashPairs(docs), "blk"))) {
      q.collect()
      // count within the final adaptive plan only — the toString also
      // echoes the initial (pre-reuse) plan
      val p = plan(q).split("== Initial Plan ==").head
      // anchor to the tree-node prefix: a ReusedExchange line echoes the
      // referenced exchange's description and must not be counted
      val shuffles =
        s"\\+- Exchange hashpartitioning\\($key".r.findAllIn(p).length
      assert(shuffles == 1,
        s"$name: capped relation shuffled $shuffles times (want 1 + " +
          s"ReusedExchange):\n$p")
      assert(p.contains("ReusedExchange"),
        s"$name: self-join side recomputed the upstream instead of " +
          s"reusing the exchange:\n$p")
    }
  }

  test("curation ops: splitAssign is exchange-free; cap/pack take one hash exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val split = graft.pipeline.Curation.splitAssign(docs)
    assert(!plan(split).contains("Exchange"),
      s"splitAssign must stay a narrow projection:\n${plan(split)}")
    for ((name, df) <- Seq(
        "sourceCap" -> graft.pipeline.Curation.sourceCap(docs, 10),
        "packSequences" -> graft.pipeline.Curation.packSequences(docs, 2048))) {
      val p = plan(df)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$name wants exactly one hash exchange:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"$name must not global-sort:\n$p")
    }
  }

  test("segmentDedup: bounded hash exchanges with partial agg, no window on seg_hash, no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.pipeline.Curation.segmentDedup(docs, 10))
    // first-occurrence via aggregate+join (≤3 exchanges: agg build,
    // join probe, doc reassembly) — NOT a window over seg_hash, which
    // would serialize every occurrence of a hot segment into one task
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"segmentDedup wants <= 3 hash exchanges:\n$p")
    assert(!p.contains("Window"), s"no window over seg_hash:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"first-occurrence needs map-side partial aggregation:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"segmentDedup must not global-sort:\n$p")
    assert(!p.contains("CartesianProduct"))
    // r17 docmix lesson: segmentation must be the one-pass kernel —
    // the slice-per-segment HOF form is O(words²/segWords) because an
    // interpreted Slice copies the whole word array per segment
    // (>16 min on a million-word doc vs 3.2 s)
    assert(p.toLowerCase.contains("segmentsexpr"),
      s"one-pass segmentation kernel missing:\n$p")
    assert(!p.contains("slice(words"),
      s"quadratic slice-per-segment form leaked back:\n$p")
  }

  test("temperatureSample: rates join back by broadcast, corpus side un-shuffled") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.pipeline.Curation.temperatureSample(docs))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rates relation should broadcast:\n$p")
    // the corpus side of the join must not hash-exchange: the only
    // exchanges allowed feed the tiny per-source aggregation
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the rates join:\n$p")
  }

  test("email subject/body formatting keeps map-side partial aggregation / stays narrow") {
    val ev = EventView(spark, dir)
    // body is a pure projection — no exchange at all
    val pb = plan(ev.select(graft.sinks.Email.bodyBlock().as("b")))
    assert(!pb.contains("Exchange"), s"bodyBlock must stay narrow:\n$pb")
    // subject aggregates once on the group key
    val ps = plan(graft.sinks.Email.subject(ev, Seq("service")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(ps).length
    assert(exchanges == 1, s"subject wants one hash exchange:\n$ps")
  }

  test("sink payload renderers plan as pure per-row projections: one " +
    "scan, no join or aggregate, only the determinism sort's exchange") {
    // representative slice of the r7 oracle-gated renderer family —
    // the render itself must ride the scan; at 100 TB a sink formatter
    // that shuffles or aggregates would dominate the write path
    // (the sort exists only for the oracle compare; sinks don't sort)
    val qs = Seq("q_slack_message", "q_boundary_tuple", "q_opsgenie_body",
      "q_pagerduty_v2", "q_netuitive_element", "q_xymon_status",
      "q_druid_event")
    qs.foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, dir))
      assert(!p.contains("Join"), s"$name plans a join:\n$p")
      assert(!p.contains("HashAggregate"), s"$name aggregates:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$name reads the source $scans times:\n$p")
      // r21: the entry layer adds ONE deliberate input-spread exchange
      // (EntryShared.spread — the single-row-group test files yield a
      // 1-split scan, so the render would serialize on one core; at
      // scale the scan has real splits and spread adds nothing).
      // REPARTITION_BY_NUM tags exactly that exchange; beyond it the
      // renderer still gets only the determinism sort's exchange.
      val exchanges = "Exchange".r.findAllIn(p).length -
        "REPARTITION_BY_NUM".r.findAllIn(p).length
      assert(exchanges <= 1,
        s"$name wants only the sort's range exchange:\n$p")
    }
  }

  test("input spread is scale-adaptive: a multi-split scan gets NO " +
    "spread exchange, a one-split scan gets exactly one") {
    // r22 (r21 VERDICT #7): pin the "never fires at scale" property at
    // a second input shape instead of asserting it in a comment. A
    // table written as >= parallelism/2 files scans as that many splits
    // (openCostInBytes keeps small files from packing into one), so the
    // guard must leave the plan alone; the driver's single-row-group
    // test tables scan as ONE split, so the guard must add exactly one
    // REPARTITION_BY_NUM exchange.
    val n = math.max(spark.sparkContext.defaultParallelism, 2)
    val tmp = java.nio.file.Files.createTempDirectory("spread_scale")
      .toString
    try {
      spark.range(0, 10000).select(col("id").as("event_id"))
        .repartition(n).write.mode("overwrite").parquet(tmp)
      val multi = spark.read.parquet(tmp)
      assert(multi.rdd.getNumPartitions * 2 > n,
        s"test table did not scan as multiple splits " +
          s"(${multi.rdd.getNumPartitions})")
      val pMulti = plan(EntryShared.spread(multi, col("event_id")))
      assert(!pMulti.contains("REPARTITION_BY_NUM"),
        s"spread fired on a multi-split scan:\n$pMulti")
    } finally org.apache.spark.network.util.JavaUtils.deleteRecursively(
      new java.io.File(tmp))
    val single = EventView(spark, dir) // single-row-group test table
    val pSingle = plan(EntryShared.spread(single, col("event_id")))
    assert("REPARTITION_BY_NUM".r.findAllIn(pSingle).length == 1,
      s"spread did not add exactly one exchange on a 1-split scan:\n$pSingle")
  }

  test("media decode paths are narrow: scan feeds the codec " +
    "mapPartitions with no exchange in between") {
    // at 100 TB the media bytes are the dominant IO; any exchange
    // between the scan and the decode would re-shuffle the payloads
    import graft.pipeline.Multimodal
    val media = Multimodal.deriveMedia(
      spark.read.parquet(s"$dir/documents.parquet"))
    Seq[org.apache.spark.sql.Dataset[_]](
      Multimodal.decodeImages(media),
      Multimodal.decodeAudio(media),
      Multimodal.decodeVideo(media),
      Multimodal.decodeVideoFrames(media),
      Multimodal.decodeStub(media)).foreach { ds =>
      val p = ds.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"decode shuffles payload bytes:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 1, s"decode reads the source $scans times:\n$p")
    }
  }

  test("ngramJaccardPairs: group pair synthesis — no pair distinct, no " +
    "array_intersect/array_union, dedup + verify ride codegen kernels") {
    val p = plan(Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$dir/documents.parquet")))
    // the verify pass is the merge-walk kernel over sorted hash sets,
    // not per-pair array set algebra
    assert(!p.contains("array_intersect") && !p.contains("array_union"),
      s"set-algebra verify leaked back:\n$p")
    assert(p.contains("ngraminterexpr") || p.contains("NgramInterExpr"),
      s"verify kernel missing:\n$p")
    // pair dedup is the first-shared-band filter on generated pairs —
    // a corpus-scale HashAggregate distinct over the banded pair
    // stream must not reappear
    assert(p.contains("firstsharedbandexpr") || p.contains("FirstSharedBandExpr"),
      s"first-shared-band filter missing:\n$p")
    assert(p.contains("Generate posexplode"), s"pair generators missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"pair-level verification join leaked back:\n$p")
    // r17 payload bound: members inline a slice(hsh, 1, maxInline)
    // prefix and the truncation-aware kernel decides in-group; the
    // re-verify leg joins only the heavy tail (size(hsh) > cap)
    assert(p.contains("ngraminterboundedexpr") ||
      p.contains("NgramInterBoundedExpr"),
      s"bounded in-group kernel missing:\n$p")
    assert(p.toLowerCase.contains("slice("),
      s"inline-prefix truncation missing:\n$p")
    assert(p.contains(s"> ${graft.pipeline.Caps.DefaultMaxInlineHashes}"),
      s"heavy-tail re-verify filter missing:\n$p")
  }

  test("bucketed as-of: data-volume windows partition on (keys, bucket), " +
    "only the bucket-aggregate carry window is keys-wide, no global sort") {
    val spark0 = spark
    import spark0.implicits._
    val ev = EventView(spark, dir)
    val ref = Seq(("0", 10L, "v1"), ("1", 100L, "v2"))
      .toDF("host", "time_s", "cfg")
    val p = plan(graft.operators.Temporal.asOfJoin(ev, ref, Seq("host"),
      "time_s", Seq("cfg"), 3600L, bucketSeconds = 600L))
    // no rangepartitioning: every sort in the plan is window-local
    assert(!p.contains("rangepartitioning"), s"global sort leaked:\n$p")
    // every Window over DATA rows must partition on (..., asof_bucket)
    // — a keys-only window over the event stream is exactly the
    // hot-key serialization this form exists to avoid; the one
    // permitted keys-only window is the carry chain, which runs over
    // bucket-level aggregates (<= time-range/bucket rows per key)
    val winSpecs = p.linesIterator.filter(_.contains("+- Window ")).toSeq
    assert(winSpecs.nonEmpty, s"no windows found:\n$p")
    val keysOnly = winSpecs.filterNot(_.contains("asof_bucket#"))
    assert(keysOnly.isEmpty,
      s"keys-only window without bucket partitioning:\n${keysOnly.mkString("\n")}")
    val carry = winSpecs.filter(_.contains("asof_carry"))
    assert(carry.nonEmpty && carry.forall { l =>
      // partition-by clause: the spec list after the aggregate —
      // asof_bucket appears only as the ORDER key, host is the
      // partition (bucket-level relation, so keys-wide is bounded)
      l.contains("asof_bucket#") }, s"carry window shape:\n$p")
  }

  test("langIdApply under a trained model is exchange-free: the NB " +
    "scorer rides the scan as one narrow codegen'd projection") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = graft.pipeline.TextAnalysis.langIdModel(docs)
    val p = plan(graft.pipeline.TextAnalysis.langIdApply(docs, m))
    assert(!p.contains("Exchange"), s"predict pass shuffled:\n$p")
    assert(p.contains("langscoreexpr") || p.contains("LangScoreExpr") ||
      p.contains("lang_score"), s"scorer kernel missing:\n$p")
  }
}
