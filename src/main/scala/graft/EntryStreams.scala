package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.EventView
import graft.operators.{Combine, Index, Streams, Windows}
import graft.operators.Streams.EventOps
import graft.functions.Folds
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}
import graft.EntryShared._

/** Driver-contract queries, part 1 of the [[SparkEntry]] split:
  * filters / projections / query language / grouping / windows /
  * folds / deps / star-schema / dedup / similarity / line-protocol
  * encode-decode gates. One entry per SURVEY.md §2 operator. */
private[graft] object EntryStreams {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.3 filters / routing
    "q_where" -> ((s, d) => ev(s, d)
      .where(col("metric") > 100 && col("service") === "purchase")
      .select("event_id", "host", "service", "metric").orderBy("event_id")),
    "q_over_under" -> ((s, d) => ev(s, d).over(50).under(150)
      .select("event_id", "metric").orderBy("event_id")),
    "q_tagged_any" -> ((s, d) => ev(s, d).taggedAny(Seq("big"))
      .select("event_id", "service", "metric").orderBy("event_id")),
    "q_tagged_all" -> ((s, d) => ev(s, d).taggedAll(Seq("purchase", "big"))
      .select("event_id", "metric").orderBy("event_id")),
    "q_expired" -> ((s, d) => ev(s, d).expired(lit(1706620000L))
      .select("event_id", "host", "service", "time_s", "ttl")
      .orderBy("event_id")),
    "q_split" -> ((s, d) => ev(s, d)
      .splitRoutes(Seq((col("metric") > 150, "high"),
        (col("metric") > 50, "mid")), "low")
      .select("event_id", "route").orderBy("event_id")),
    "q_splitp" -> ((s, d) => ev(s, d)
      .splitp(col("state"), Seq(("critical", "page"), ("warning", "notify")),
        "ignore")
      .select("event_id", "route").orderBy("event_id")),
    "q_dual" -> ((s, d) => ev(s, d).dual(col("metric") > 50)._2
      .select("event_id", "state").orderBy("event_id")),
    "q_match" -> ((s, d) => ev(s, d)
      .matching("service", "purchase|signup".r)
      .select("event_id", "service").orderBy("event_id")),

    // ---- §2.4 projections
    "q_project_fields" -> ((s, d) => ev(s, d)
      .withFields("description" -> lit("evt")).scale(0.5)
      .select("event_id", "description", "metric").orderBy("event_id")),
    "q_default" -> ((s, d) => ev(s, d)
      .defaultFields("state" -> lit("ok"), "site" -> lit("dc1"))
      .select("event_id", "state", "site").orderBy("event_id")),
    // array columns are serialized to strings: the driver's comparator
    // sorts rows via pandas, which can't hash numpy arrays
    "q_tag_untag" -> ((s, d) => ev(s, d).tag("x").untag("big")
      .select(col("event_id"),
        array_join(array_sort(col("tags")), ",").as("tags"))
      .orderBy("event_id")),
    "q_smap" -> ((s, d) => ev(s, d)
      .smap(col("metric") > 10, "metric" -> (col("metric") / 10))
      .select("event_id", "metric").orderBy("event_id")),
    "q_smapcat" -> ((s, d) => ev(s, d).smapcat(col("tags"), "tag")
      .select("event_id", "tag").orderBy("event_id", "tag")),
    "q_adjust" -> ((s, d) => ev(s, d)
      // (adjust [:service str "!"] ...) — streams_test.clj adjust-test
      .adjust("service", c => concat(c, lit("!")))
      .select("event_id", "service").orderBy("event_id")),
    // sflatten inverts the window operators' vector emission: group
    // events into per-host vectors, flatten back, recover the rows
    "q_sflatten" -> ((s, d) => {
      val grouped = ev(s, d).groupBy("host")
        .agg(collect_list(struct(col("event_id"), col("service"),
          col("metric"))).as("events_v"))
      grouped.sflatten("events_v").orderBy("event_id")
    }),

    // ---- §2.8 query language + index
    "q_query_search" -> ((s, d) =>
      Index.search(Index.snapshot(ev(s, d)),
        """state = "critical" or (metric > 120 and tagged "big")""")
        .select("event_id", "host", "service", "state", "metric", "time_s")
        .orderBy("event_id")),
    "q_query_attrs" -> ((s, d) =>
      Index.search(Index.snapshot(ev(s, d)), """k > 50 and metric < 100""")
        .select("event_id", "host", "service", "metric").orderBy("event_id")),
    // the SQL surface: same predicate semantics, entered via
    // spark.sql(... WHERE riemann_query('...')). This gate exists to
    // exercise the SQL path specifically, so a session without the
    // RiemannExtensions rule fails loudly instead of silently passing
    // via the DataFrame predicate (Verify/Bench both install it).
    "q_query_sql" -> ((s, d) => {
      val q = """state = "critical" or (metric > 120 and tagged "big")"""
      val snap = Index.snapshot(ev(s, d))
      if (!graft.query.RiemannSql.isInstalled(s))
        throw new IllegalStateException(
          "q_query_sql requires spark.sql.extensions=graft.query.RiemannExtensions " +
            "(the gate checks the SQL surface, not the DataFrame fallback)")
      snap.createOrReplaceTempView("graft_index_snapshot")
      s.sql("SELECT event_id, host, service, state, metric, time_s " +
        "FROM graft_index_snapshot " +
        s"WHERE riemann_query('${q.replace("'", "''")}')")
        .orderBy("event_id")
    }),
    "q_index_snapshot" -> ((s, d) => Index.snapshot(ev(s, d))
      .select("event_id", "host", "service", "state", "metric", "time_s")
      .orderBy("host", "service")),
    "q_index_expired" -> ((s, d) => Index.expiredAt(ev(s, d), lit(1706620000L))
      .select("host", "service", "state", "time_s").orderBy("host", "service")),

    // ---- §2.5 grouping / combine
    "q_coalesce" -> ((s, d) => Combine.coalesce(ev(s, d))
      .select("service", "host", "time_s", "event_id", "metric", "state")
      .orderBy("service", "host")),
    "q_coalesce_fold" -> ((s, d) => Combine.coalesceFold(ev(s, d),
      "n_hosts" -> count(lit(1)),
      "mean_latest" -> Folds.meanExact(col("metric")))
      .orderBy("service")),
    "q_project_quotient" -> ((s, d) => Combine.projectQuotient(ev(s, d),
      col("service") === "purchase", col("service") === "error", Seq("host"))
      .orderBy("host")),

    // ---- §2.6 windows / temporal
    "q_fixed_offset_window" -> ((s, d) =>
      Windows.fixedOffsetTimeWindow(ev(s, d), 3600, Seq("service"))
        .orderBy("service", "window_start")),
    "q_fixed_event_window" -> ((s, d) =>
      Windows.fixedEventWindow(ev(s, d), 5, Seq("host"))
        .orderBy("host", "batch_id")),
    "q_moving_event_window" -> ((s, d) =>
      Windows.movingEventWindow(ev(s, d), 3, Seq("host"))
        .select("event_id", "moving_sum", "moving_n").orderBy("event_id")),
    "q_moving_time_window" -> ((s, d) =>
      Windows.movingTimeWindow(ev(s, d), 3600, Seq("host"))
        .select("event_id", "window_sum", "window_n").orderBy("event_id")),
    "q_fixed_time_window" -> ((s, d) =>
      Windows.fixedTimeWindow(ev(s, d), 7200, Seq("host"))
        .orderBy("host", "window_id")),
    "q_rate" -> ((s, d) => Windows.rate(ev(s, d), 3600, Seq("service"))
      .orderBy("service", "window_start")),
    // rate with the reference's ttl-decay emission (rate-expiration):
    // 60 s buckets so the 60-330 s event ttls actually gate the
    // zero-fill span between observed buckets
    "q_rate_expiring" -> ((s, d) =>
      Windows.rateExpiring(ev(s, d), 60, Seq("service"))
        .orderBy("service", "time_s")),
    "q_percentiles" -> ((s, d) =>
      Windows.percentiles(ev(s, d), 86400, Seq(0.5, 0.9, 0.99))
        .orderBy("service_pt", "window_start")),
    // rate+latency self-instrumentation; metric-as-milliseconds plays
    // the latency sample (floor'd to integral ns so both engines'
    // double->long conversions agree)
    "q_instrument" -> ((s, d) =>
      Windows.instrument(ev(s, d).filter(col("metric").isNotNull), 86400,
        floor(col("metric") * lit(1e6)))
        .orderBy("service_out", "window_start")),
    "q_apdex" -> ((s, d) => Windows.apdex(ev(s, d), 86400,
      col("metric") <= 50, col("metric") > 50 && col("metric") <= 150,
      Seq("service")).orderBy("service", "window_start")),
    "q_ddt" -> ((s, d) => Windows.ddt(ev(s, d), Seq("host"))
      .select("event_id", "ddt").orderBy("event_id")),
    "q_counter" -> ((s, d) => Windows.counter(ev(s, d), Seq("host"), "big")
      .select("event_id", "running_sum").orderBy("event_id")),
    "q_sum_over_time" -> ((s, d) => Windows.sumOverTime(ev(s, d), Seq("host"))
      .select("event_id", "running_sum").orderBy("event_id")),
    "q_mean_over_time" -> ((s, d) => Windows.meanOverTime(ev(s, d), Seq("host"))
      .select("event_id", "running_mean").orderBy("event_id")),
    "q_ewma_timeless" -> ((s, d) =>
      Windows.ewmaTimeless(ev(s, d), 0.3, Seq("host")).orderBy("host")),
    "q_ewma" -> ((s, d) =>
      Windows.ewma(ev(s, d), 3600.0, Seq("host")).orderBy("host")),
    "q_top_k" -> ((s, d) => Windows.topK(ev(s, d), 5, Seq("host", "service"))
      .orderBy(col("total_metric").desc, col("host"), col("service"))),
    "q_throttle" -> ((s, d) => Windows.throttle(ev(s, d), 2, 3600, Seq("host"))
      .select("event_id").orderBy("event_id")),
    "q_rollup" -> ((s, d) => Windows.rollup(ev(s, d), 2, 3600, Seq("service"))
      .withColumn("rolled_metrics",
        array_join(transform(col("rolled_metrics"),
          x => floor(x * lit(1e6)).cast("string")), ","))
      .orderBy("service", "window_start")),
    "q_ddt_real" -> ((s, d) => Windows.ddtReal(ev(s, d), 3600, Seq("host"))
      .orderBy("host", "window_start")),
    "q_changed" -> ((s, d) => Windows.changed(ev(s, d), "state", Seq("host"))
      .select("event_id", "state", "prev_value").orderBy("event_id")),
    "q_runs" -> ((s, d) => Windows.runs(ev(s, d), 2, "state", Seq("host"))
      .select("event_id").orderBy("event_id")),
    "q_stable" -> ((s, d) => Windows.stable(ev(s, d), 7200, "state", Seq("host"))
      .select("event_id").orderBy("event_id")),
    "q_predict_linear" -> ((s, d) =>
      Windows.predictLinear(ev(s, d), 3600, Seq("host")).orderBy("host")),
    "q_clock_skew" -> ((s, d) => Windows.clockSkew(ev(s, d)).orderBy("host")),
    // z-score anomalies: events >= 2.5 sigma from their service's
    // decimal-exact population moments — stats broadcast back, so the
    // flagging is a map-side filter, not a second shuffle
    "q_zscore_anomaly" -> ((s, d) =>
      Windows.zscore(ev(s, d), Seq("service"), 2.5)
        .orderBy("event_id")),
    "q_fold_interval" -> ((s, d) => Windows.foldInterval(ev(s, d), 86400,
      Seq("service"),
      "sum_m" -> Folds.sumExact(col("metric")),
      "mean_m" -> Folds.meanExact(col("metric")),
      "min_m" -> min(col("metric")),
      "max_m" -> max(col("metric")),
      "sd_m" -> Folds.stddevPopExact(col("metric")),
      "n" -> count(lit(1))).orderBy("service", "window_start")),
    "q_batch" -> ((s, d) => Windows.batchNDt(ev(s, d), 3, 3600, Seq("host"))
      .orderBy("host", "window_start", "batch_seq")),
    "q_fill_in" -> ((s, d) => Windows.fillIn(ev(s, d), 3600, Seq("service"), 0.0)
      .orderBy("service", "window_start")),
    "q_fill_in_last" -> ((s, d) =>
      Windows.fillInLast(ev(s, d), 3600, Seq("service"))
        .orderBy("service", "window_start")),
    "q_interpolate" -> ((s, d) =>
      Windows.interpolateConstant(ev(s, d), 3600, Seq("host"))
        .orderBy("host", "window_start")),
    // as-of join: each error enriched with the latest purchase at or
    // before it (same host, 6h tolerance) — one union + one keyed
    // window pass, no per-row probe, neither side broadcast
    "q_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      graft.operators.Temporal.asOfJoin(
        e.filter(col("service") === "error")
          .select("event_id", "host", "time_s"),
        e.filter(col("service") === "purchase")
          .select("host", "time_s", "event_id", "metric"),
        Seq("host"), "time_s", Seq("event_id", "metric"),
        toleranceSeconds = 21600)
        .withColumnsRenamed(Map("asof_event_id" -> "purchase_id",
          "asof_metric" -> "purchase_metric",
          "asof_time_s" -> "purchase_time_s"))
        .orderBy("event_id")
    }),
    // the same as-of relation through the skew-hardened two-level
    // pass (6h buckets): window partitions on (host, bucket), so a
    // hot host never serializes onto one task; shares q_asof_join's
    // oracle verbatim — the rewrite must change nothing
    "q_asof_bucketed" -> ((s, d) => {
      val e = ev(s, d)
      graft.operators.Temporal.asOfJoin(
        e.filter(col("service") === "error")
          .select("event_id", "host", "time_s"),
        e.filter(col("service") === "purchase")
          .select("host", "time_s", "event_id", "metric"),
        Seq("host"), "time_s", Seq("event_id", "metric"),
        toleranceSeconds = 21600, bucketSeconds = 21600)
        .withColumnsRenamed(Map("asof_event_id" -> "purchase_id",
          "asof_metric" -> "purchase_metric",
          "asof_time_s" -> "purchase_time_s"))
        .orderBy("event_id")
    }),
    // range join: errors landing inside [purchase, purchase + 15 min)
    // maintenance windows per host — bin-bucketed equi-join, residual
    // containment filter, no theta-join
    "q_range_join" -> ((s, d) => {
      val e = ev(s, d)
      val intervals = e.filter(col("service") === "purchase")
        .select(col("event_id").as("interval_id"),
          col("host"), col("time_s").as("start_s"),
          (col("time_s") + 900).as("end_s"))
      graft.operators.Temporal.rangeJoin(
        e.filter(col("service") === "error")
          .select("event_id", "host", "time_s"),
        intervals, Seq("host"), "time_s", "start_s", "end_s",
        binSeconds = 900)
        .select("event_id", "host", "time_s", "interval_id", "start_s")
        .orderBy("event_id", "interval_id")
    }),
    // sessionization: native session_window per host, 6h gap — the
    // session ends gap after its last event (contract mirrored by the
    // oracle's gaps-and-islands rollup)
    "q_sessionize" -> ((s, d) =>
      graft.operators.Temporal.sessionize(ev(s, d), Seq("host"), "time",
        "21600 seconds")
        .orderBy("host", "session_start_s")),
    // the same sessions through the skew-hardened chunked pass (1-day
    // chunks, cross-chunk merge over bounded session rows); shares
    // q_sessionize's gaps-and-islands oracle verbatim
    "q_sessionize_bucketed" -> ((s, d) =>
      graft.operators.Temporal.sessionizeBucketed(ev(s, d), Seq("host"),
        "time", gapSeconds = 21600, chunkSeconds = 86400)
        .orderBy("host", "session_start_s")),
    "q_sreduce" -> ((s, d) => Windows.sreduceRunning(ev(s, d), Seq("host"),
      "running_max" -> max(col("metric")),
      "running_sum" -> sum(col("metric").cast(D)))
      .withColumn("running_sum", col("running_sum").cast("double"))
      .select("event_id", "running_max", "running_sum").orderBy("event_id")),
    "q_mode" -> ((s, d) =>
      Folds.modeDeterministic(ev(s, d), "metric", Seq("service"))
        .orderBy("service")),
    "q_median" -> ((s, d) => ev(s, d).filter(col("metric").isNotNull)
      .groupBy("service")
      .agg(Folds.medianFold(col("metric")).as("median")).orderBy("service")),
    // §2.9: the order-sensitive typed Aggregator on the real UDAF path
    // (first − Σrest in event order; decimal-exact so the oracle's
    // closed form 2·first − Σall matches bit-for-bit before rounding)
    "q_fold_difference" -> ((s, d) => {
      val diffU = org.apache.spark.sql.functions.udaf(
        new graft.functions.Aggregators.Difference(),
        org.apache.spark.sql.Encoders.product[
          graft.functions.Aggregators.OrdMetric])
      // rank-based order key: a radix like time_s*K+event_id silently
      // breaks once event_id >= K; the window shares the groupBy's hash
      // partitioning on host, so no extra shuffle
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("host").orderBy("time_s", "event_id")
      ev(s, d).filter(col("metric").isNotNull)
        .withColumn("ord", row_number().over(w).cast("long"))
        .groupBy("host")
        .agg(round(diffU(col("ord"), col("metric")), 4).as("difference"))
        .orderBy("host")
    }),
    "q_modes" -> ((s, d) =>
      Folds.modesAll(ev(s, d), "metric", Seq("service"))
        .select(col("service"), explode(col("modes")).as("mode_value"),
          col("mode_count"))
        .orderBy("service", "mode_value")),
    // §2.9: product / quotient typed Aggregators on the real UDAF path,
    // gated over small-integer inputs (vi ∈ [-3,3] with natural zeros)
    // so the log-space magnitude is deterministic at the rounded
    // precision (true values are integers / small rationals) while the
    // sign/zero/IEEE edges of folds.clj:103-154 are all exercised
    "q_fold_product" -> ((s, d) => {
      val prodU = org.apache.spark.sql.functions.udaf(
        new graft.functions.Aggregators.Product(),
        org.apache.spark.sql.Encoders.scalaDouble)
      foldBatches(s, d).groupBy("host", "batch_id")
        .agg(round(prodU(col("vi")), 4).as("product_m"))
        .orderBy("host", "batch_id")
    }),
    // IEEE classes (NaN / ±Inf from zero divisors) are emitted as a
    // label column and the numeric column nulled for non-finite rows:
    // DuckDB's `/` yields NULL on zero divisors, so the oracle derives
    // the class from zero/sign counts instead of dividing
    "q_fold_quotient" -> ((s, d) => {
      val quotU = org.apache.spark.sql.functions.udaf(
        new graft.functions.Aggregators.Quotient(),
        org.apache.spark.sql.Encoders.product[
          graft.functions.Aggregators.OrdMetric])
      foldBatches(s, d).groupBy("host", "batch_id")
        .agg(quotU(col("ord"), col("vi")).as("q"))
        .select(col("host"), col("batch_id"),
          when(isnan(col("q")), "nan")
            .when(col("q") === Double.PositiveInfinity, "inf")
            .when(col("q") === Double.NegativeInfinity, "-inf")
            .otherwise("finite").as("q_class"),
          when(isnan(col("q")) || col("q") === Double.PositiveInfinity ||
            col("q") === Double.NegativeInfinity, lit(null).cast("double"))
            .otherwise(round(col("q"), 6)).as("quotient"))
        .orderBy("host", "batch_id")
    }),
    "q_fold_quotient_sloppy" -> ((s, d) => {
      val quotU = org.apache.spark.sql.functions.udaf(
        new graft.functions.Aggregators.Quotient(sloppy = true),
        org.apache.spark.sql.Encoders.product[
          graft.functions.Aggregators.OrdMetric])
      foldBatches(s, d).groupBy("host", "batch_id")
        .agg(round(quotU(col("ord"), col("vi")), 6).as("quotient_sloppy"))
        .orderBy("host", "batch_id")
    }),

    // ---- deps rules + skew-safe aggregation
    "q_deps" -> ((s, d) => {
      val events = ev(s, d)
      graft.operators.Deps.tagSatisfied(events,
        Index.liveAt(events, lit(1706620000L)),
        graft.operators.Deps.Localhost(graft.operators.Deps.Matches(
          Map("service" -> "purchase", "state" -> "ok"))))
        .select("event_id", "deps_satisfied").orderBy("event_id")
    }),
    "q_salted_agg" -> ((s, d) =>
      Windows.saltedSumCount(ev(s, d), Seq("service"), "metric")
        .orderBy("service")),

    // ---- star-schema sanity: decimal-exact pricing summary over lineitem
    "q_tpch_pricing" -> ((s, d) => {
      val li = EntryShared.spread(s.read.parquet(s"$d/lineitem.parquet"), col("l_orderkey"))
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(D))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(D)).cast("double") /
            count(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- star-schema join path: broadcast the dimension chain
    "q_tpch_regional" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
      val cust = s.read.parquet(s"$d/customer.parquet")
      val nation = s.read.parquet(s"$d/nation.parquet")
      val region = s.read.parquet(s"$d/region.parquet")
      val dim = broadcast(cust
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .select(col("c_custkey"), col("r_name")))
      orders.join(dim, orders("o_custkey") === dim("c_custkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total_price"))
        .orderBy("r_name")
    }),

    // ---- LLM pipeline: dedup
    "q_dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))
      .orderBy("content_hash")),
    "q_minhash_sig" -> ((s, d) => Dedup.minhashSignature(docs(s, d), 8, 3)
      .select(col("doc_id"),
        array_join(transform(col("sig"), _.cast("string")), ",").as("sig"))
      .orderBy("doc_id")),
    "q_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(docsS(s, d), 16, 4, 0.5, 3)
      .orderBy("doc_a", "doc_b")),
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.nearDupComponents(Dedup.minhashPairs(docsS(s, d), 16, 4, 0.5, 3))
        .orderBy("doc_id")),
    "q_deduped_corpus" -> ((s, d) =>
      Dedup.dedupedCorpus(docsS(s, d), Dedup.minhashPairs(docsS(s, d), 16, 4, 0.5, 3))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), 3, 0.3, 16, 8)
        .orderBy("doc_a", "doc_b")),
    "q_simhash" -> ((s, d) => Dedup.simhash(docs(s, d), 64).orderBy("doc_id")),
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), 3).orderBy("doc_a", "doc_b")),
    "q_embedding_neardups" -> ((s, d) =>
      Dedup.embeddingNearDups(emb(s, d), 0.4).orderBy("vec_a", "vec_b")),
    // SemDeDup (Abbas et al. 2023): one survivor per embedding-cosine
    // near-dup component
    "q_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDedup(emb(s, d), 0.4).orderBy("vec_id")),
    // exact substring dedup (Lee et al. 2021): duplicated >= 8-token
    // spans stripped corpus-wide, canonical occurrence kept
    "q_substring_dedup" -> ((s, d) =>
      Dedup.substringDedup(docsS(s, d), 8).orderBy("doc_id")),

    // ---- LLM pipeline: similarity
    "q_ann_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10)
        .orderBy("query_id", "rk")),
    "q_lsh_buckets" -> ((s, d) => Similarity.lshBuckets(emb(s, d), 8)
      .orderBy("vec_id")),
    "q_ann_lsh" -> ((s, d) => Similarity.lshTopK(emb(s, d), 5, 8)
      .orderBy("query_id", "rk")),
    "q_label_centroids" -> ((s, d) => Similarity.labelCentroids(emb(s, d))
      .orderBy("label")),
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 3)
        .orderBy("query_id", "rk")),
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 8, 3)
        .orderBy("query_id")),
    // product quantization (Jégou et al. 2011): label-seeded subspace
    // codebooks, m-byte codes, ADC scoring via per-query lookup tables
    "q_ann_pq" -> ((s, d) =>
      Similarity.pqTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 8)
        .orderBy("query_id", "rk")),
    // two-stage retrieval: ADC shortlist (50) -> exact-cosine re-rank
    "q_ann_pq_rerank" -> ((s, d) =>
      Similarity.pqTopKReranked(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 50, 8)
        .orderBy("query_id", "rk")),
    // IVFADC (Jégou et al. 2011 §IV): IVF cells × Lloyd-refined
    // residual PQ codebooks, ADC restricted to probed cells
    "q_ann_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10, 3, 8, 16, 1)
        .orderBy("query_id", "rk")),
    // one Lloyd round of real k-means on the IVF coarse quantizer
    // (full-dim sibling of q_pq_kmeans), then the refined assignment —
    // with the quantizer as a PERSISTED ARTIFACT: trained + saved on
    // first invocation (parquet + manifest, corpus-fingerprint-guarded),
    // loaded thereafter; assignment under a reloaded quantizer is a
    // pure broadcast argmax map, no training pass (the 100 TB shape:
    // retrain on the reference sample, apply everywhere)
    "q_ivf_kmeans" -> ((s, d) =>
      Similarity.ivfAssign(emb(s, d),
          graft.pipeline.Models.loadOrTrainIvfCentroids(emb(s, d),
            graft.pipeline.Models.defaultRoot(d) + "/ivf_centroids_r1",
            iters = 1))
        .select("vec_id", "cell").orderBy("vec_id")),
    // two-stage IVFADC: cell-restricted residual-ADC shortlist (25)
    // -> exact-cosine re-rank
    "q_ann_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqTopKReranked(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L),
          10, 25)
        .orderBy("query_id", "rk")),
    // one Lloyd round of real k-means on the codebooks (deterministic:
    // seeded init, tie-broken argmax assignment, decimal-exact means,
    // empty codewords hold position), then encode against the result
    "q_pq_kmeans" -> ((s, d) =>
      Similarity.pqEncode(emb(s, d),
          Similarity.pqCodebooksRefined(emb(s, d), 8, 1), 8)
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), ",")
            .as("codes"))
        .orderBy("vec_id")),
    "q_pq_codes" -> ((s, d) =>
      Similarity.pqEncode(emb(s, d),
          Similarity.pqCodebooks(emb(s, d), 8), 8)
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), ",")
            .as("codes"))
        .orderBy("vec_id")),
    "q_quantize" -> ((s, d) => Similarity.quantizeInt8(emb(s, d))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        array_join(transform(col("qvec"), _.cast("string")), ",").as("qvec"))
      .orderBy("vec_id")),
    "q_quant_error" -> ((s, d) => Similarity.quantError(emb(s, d))
      .orderBy("vec_id")),
    // Johnson–Lindenstrauss random projection: 64-d → 16-d (one narrow
    // corpus pass), plus the distortion and recall audits that price it
    "q_rand_proj" -> ((s, d) => {
      val rp = Similarity.randomProject(emb(s, d), 16)
      rp.select(col("vec_id") +: col("label") +: (0 until 16).map(j =>
          round(element_at(col("rp"), j + 1), 6).as(s"rp$j")): _*)
        .orderBy("vec_id")
    }),
    "q_rp_distortion" -> ((s, d) =>
      Similarity.rpDistortion(emb(s, d), (0L until 10L).toSeq, 16)
        .orderBy("vec_a", "vec_b")),
    "q_rp_recall" -> ((s, d) =>
      Similarity.rpRecall(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10,
          Seq(16, 32))
        .orderBy("query_id")),

    // ---- §2.1 line-protocol sources: encode events to wire lines in
    // Spark, decode with the real parser; the oracle states the
    // expected identity directly (the string round-trip is Spark-only,
    // and Double.toString/parse round-trips exactly)
    "q_graphite_decode" -> ((s, d) => {
      val e = evs(s, d)
      val lines = e.select(concat_ws(" ",
        concat(col("service"), lit(";host="), col("host"),
          lit(";idx="), col("event_id")),
        col("metric").cast("string"), col("time_s").cast("string")).as("line"))
      graft.sources.LineProtocols.decodeGraphite(lines)
        .select(element_at(col("attributes"), "idx").cast("long").as("event_id"),
          col("service"), col("metric"), col("time_s"),
          element_at(col("attributes"), "host").as("host"))
        .orderBy("event_id")
    }),
    "q_opentsdb_decode" -> ((s, d) => {
      val e = evs(s, d)
      val lines = e.select(concat_ws(" ", lit("put"), col("service"),
        col("time_s").cast("string"), col("metric").cast("string"),
        concat(lit("host="), col("host")),
        concat(lit("idx="), col("event_id"))).as("line"))
      graft.sources.LineProtocols.decodeOpenTsdb(lines)
        .select(element_at(col("attributes"), "idx").cast("long").as("event_id"),
          col("description").as("metric_name"), col("service"),
          col("metric"), col("time_s"), col("host"))
        .orderBy("event_id")
    }),

    // §2.1 protobuf wire transport: encode events to int32-framed Msg
    // bytes with the forward-sink encoder, decode with the server-side
    // wire reader — all distributed — and state the identity in the
    // oracle (doubles, varint seconds, and integer-valued float ttls
    // round-trip exactly; event_id and the k attribute ride the
    // attribute map)
    "q_protobuf_roundtrip" -> ((s, d) => {
      import s.implicits._
      val pes = evs(s, d).select(
        col("host"), col("service"), col("state"),
        lit(null).cast("string").as("description"),
        col("metric"), col("tags"), col("time_s"), col("ttl"),
        map_concat(
          map(lit("idx"), col("event_id").cast("string")),
          // a missing/unparseable k drops the entry (a null map value
          // has no proto3 wire form — the encoder also skips them);
          // the oracle's attr_k is NULL either way
          expr("map_filter(map('k', attributes['k']), (k, v) -> v IS NOT NULL)"))
          .as("attributes"))
        .as[graft.sources.RiemannProtobuf.PEvent]
      val framed = pes.map(p => graft.sources.RiemannProtobuf.frame(
        graft.sources.RiemannProtobuf.encodeMsg(Seq(p))))(
        org.apache.spark.sql.Encoders.BINARY).toDF("value")
      graft.sources.RiemannProtobuf.decodeMsgs(framed, "value", framed = true)
        .toDF()
        .select(
          element_at(col("attributes"), "idx").cast("long").as("event_id"),
          col("host"), col("service"), col("state"), col("metric"),
          coalesce(array_join(col("tags"), ","), lit("")).as("tags"),
          col("time_s"), col("ttl"),
          element_at(col("attributes"), "k").as("attr_k"))
        .orderBy("event_id")
    }),
    // §2.2 influxdb sink: the line-protocol encode (shared with
    // Metrics.influxDb) gated as text — escaping, value render, ns clock
    "q_influx_lines" -> ((s, d) => evs(s, d)
      .filter(col("metric").isNotNull)
      .select(col("event_id"), graft.sinks.Metrics.influxLine.as("line"))
      .orderBy("event_id")),
    // §2.2 influxdb v2 sink: the point encode (shared with Metrics.influx2)
    // at ms precision — host-tag drop rule + precision clock scaling
    "q_influx2_line" -> ((s, d) => evs(s, d)
      .filter(col("metric").isNotNull)
      .select(col("event_id"),
        graft.sinks.Metrics.influx2Line("ms").as("line"))
      .orderBy("event_id")),
    // §2.1 kafka/ws JSON codec: render each event with the wire
    // encoder (to_json), decode through the same Event-schema path the
    // kafka consumer and ws /events ingest use, and state the identity
    "q_json_roundtrip" -> ((s, d) => {
      val payload = evs(s, d).select(to_json(struct(
        col("host"), col("service"), col("state"), col("metric"),
        col("tags"), col("time"), col("ttl"),
        map(lit("idx"), col("event_id").cast("string")).as("attributes")))
        .as("value"))
      payload.select(from_json(col("value"), graft.model.Event.schema).as("e"))
        .select(
          expr("CAST(e.attributes['idx'] AS LONG)").as("event_id"),
          col("e.host"), col("e.service"), col("e.state"), col("e.metric"),
          coalesce(array_join(col("e.tags"), ","), lit("")).as("tags"),
          unix_timestamp(col("e.time")).as("time_s"), col("e.ttl"))
        .orderBy("event_id")
    }),

  )
}
