package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic, engine-portable distinct-count sketching
  * (HyperLogLog, Flajolet et al. 2007) — the cardinality counterpart
  * of the approx percentile family: at 100 TB "how many distinct
  * hosts/users/urls per key" is a first-class monitoring AND curation
  * question (riemann folds count distinct hosts per service in
  * user configs; corpus reports count distinct domains per shard),
  * and the exact answer needs a full shuffle of every distinct value
  * while the sketch needs one bounded-width partial aggregate.
  *
  * Unlike `approx_count_distinct` (whose HLL++ bias tables are an
  * engine-internal detail), every step here is md5-derived and
  * SQL-expressible, so the DuckDB oracle replays the sketch EXACTLY:
  * hash = first-15-hex of md5("hll:" ++ value) → 60 bits; bucket =
  * hash mod m; rho = position of the first 1-bit in the remaining
  * 60-lg(m) bits (via the binary-string length both engines print
  * identically); per-bucket max-rho is the mergeable state; the
  * estimate is the classic alpha_m·m²/Σ2^−rho harmonic mean with
  * linear counting below 2.5m — transcendentals (ln) pre-computed on
  * the driver and embedded as literals on BOTH sides, and the
  * harmonic sum carried as an exact DECIMAL of scaled powers of two,
  * so no cross-engine libm difference can flip a bit.
  *
  * Scale shape: [[sketch]] is one hash aggregation with map-side
  * combine to ≤ m rows per key (the mergeable partial — union sketches
  * by taking max-rho per bucket again); [[estimate]] rolls ≤ m rows
  * per key up to one. No driver state, no second pass over the data.
  */
object Sketches {

  /** Default precision: 2^6 = 64 buckets (~13% standard error) — small
    * enough that the per-key state is negligible, and the entry
    * surface's rel-err column shows the real achieved accuracy. */
  val DefaultB = 6

  private def alphaM(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** alpha_m · m² · 2^61 as ONE driver-computed double — the numerator
    * literal both the Spark plan and the DuckDB oracle embed (so each
    * engine performs the same single divide). */
  def alphaNum(b: Int): Double = {
    val m = 1 << b
    alphaM(m) * m * m * math.pow(2.0, 61)
  }

  /** Driver-precomputed m·ln(m/zeros) for zeros ∈ [1, m] — the
    * linear-counting table both engines embed as literals (libm ln
    * can differ across engines in the last ulp; a literal cannot). */
  def lnTable(b: Int): Seq[Double] = {
    val m = 1 << b
    (1 to m).map(z => m * math.log(m.toDouble / z))
  }

  /** The mergeable HLL state: one row per (keys, bucket) with the max
    * first-1-bit position `rho` observed in that bucket. NULL values
    * are excluded up front — like `count(DISTINCT …)`, the sketch
    * counts distinct NON-NULL values (a null would otherwise hash to a
    * phantom null bucket and skew n_zero against the exact audit). */
  private def hllHash(valueCol: String): Column =
    conv(substring(md5(concat(lit("hll:"),
      col(valueCol).cast("string"))), 1, 15), 16, 10).cast("long")

  private def hllBucket(valueCol: String, b: Int): Column = {
    require(b >= 2 && b <= 16, s"b must be in [2,16], got $b")
    hllHash(valueCol) % (1 << b)
  }

  /** First-1-bit position of the (60-b)-wide hash remainder: its
    * printed binary length (identical in Spark's conv and DuckDB's
    * bin, including "0" for zero) gives the top bit's position. The
    * shift is an exact bit op, not `/` (double division would round a
    * 60-bit hash past the 53-bit mantissa); DuckDB mirrors `// m`. */
  private def hllRho(valueCol: String, b: Int): Column = {
    val restBits = 60 - b
    val rest = shiftright(hllHash(valueCol), b)
    when(rest === 0, lit(restBits + 1))
      .otherwise(lit(restBits) - length(conv(rest.cast("string"),
        10, 2)) + 1)
  }

  def sketch(df: DataFrame, keys: Seq[String], valueCol: String,
      b: Int = DefaultB): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select((keys.map(col) :+ hllBucket(valueCol, b).as("bucket") :+
        hllRho(valueCol, b).as("rho")): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("r"))

  /** Σ 2^{-rho} scaled by 2^61 so the harmonic sum is EXACT decimal
    * arithmetic: present buckets contribute 2^(61-r) (r ≥ 1 keeps it
    * in long range), absent buckets 2^61 each. */
  private def zTerm: Column =
    pow(lit(2.0), lit(61) - col("r")).cast(DecimalType(38, 0))

  /** The estimator tail shared by batch and streaming rollups: from
    * (…, n_buckets, zp) to (…, n_zero, hll_est) — one divide off the
    * exact decimal sum, linear counting from the driver-literal table. */
  private def estimateCols(rolled: DataFrame, keep: Seq[Column],
      b: Int): DataFrame = {
    val m = 1 << b
    val pow261 = math.pow(2.0, 61) // exactly representable
    val withE = rolled
      .withColumn("n_zero", lit(m) - col("n_buckets"))
      .withColumn("z", (col("zp") +
        col("n_zero").cast(DecimalType(38, 0)) *
          lit(pow261).cast(DecimalType(38, 0))).cast("double"))
      .withColumn("e_raw", lit(alphaNum(b)) / col("z"))
    val linear = element_at(
      array(lnTable(b).map(lit): _*), col("n_zero"))
    withE.withColumn("hll_est", round(
        when(col("e_raw") <= lit(2.5 * m) && col("n_zero") > 0, linear)
          .otherwise(col("e_raw")), 4))
      .select(keep :+ col("n_buckets") :+ col("n_zero") :+
        col("hll_est"): _*)
  }

  /** Roll a [[sketch]] up to one estimate row per key:
    * (keys, n_buckets, n_zero, hll_est). */
  def estimate(sk: DataFrame, keys: Seq[String],
      b: Int = DefaultB): DataFrame =
    estimateCols(
      sk.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).cast("int").as("n_buckets"),
          sum(zTerm).as("zp")),
      keys.map(col), b)

  /** Count-min frequency sketch (Cormode & Muthukrishnan 2005) — the
    * frequency companion to the HLL distinct sketch: "how often does
    * each value occur" answered from d×w cells instead of a
    * per-distinct-value shuffle. Cells are exact additive counts
    * (unlike HLL's max-rho state there is no estimator nonlinearity),
    * so the sketch is deterministic, mergeable by cell-wise addition,
    * and replayed EXACTLY by the DuckDB oracle; estimates are
    * min-over-rows and can only OVERcount (collision bias —
    * [[cmsEstimate]] surfaces the achieved overshoot against the
    * exact count).
    *
    * Scale shape: one aggregation to d·w rows per key-group with
    * map-side combine — the partial-aggregate rows ARE the mergeable
    * sketch. Estimation joins a (small) probe set against d·|probes|
    * cells. */
  val DefaultCmsDepth = 4
  val DefaultCmsWidth = 256

  private def cmsBucket(valueCol: String, row: Int, w: Int): Column =
    conv(substring(md5(concat(lit(s"cms:$row:"),
      col(valueCol).cast("string"))), 1, 15), 16, 10).cast("long") % w

  /** The mergeable CMS state: (row, bucket, cnt), d·w rows max. */
  def cmsSketch(df: DataFrame, valueCol: String,
      d: Int = DefaultCmsDepth, w: Int = DefaultCmsWidth): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    // nulls excluded like the HLL sketch (and like count(value)): a
    // null would hash to d null buckets no probe can ever look up
    df.filter(col(valueCol).isNotNull)
      .select(posexplode(array((0 until d).map(r =>
        cmsBucket(valueCol, r, w)): _*)).as(Seq("row", "bucket")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate every probe value against a [[cmsSketch]]:
    * (value, cms_est) with cms_est = min over the d rows' cells. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
      valueCol: String, d: Int = DefaultCmsDepth,
      w: Int = DefaultCmsWidth): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cells = probes.select(col(valueCol),
        posexplode(array((0 until d).map(r =>
          cmsBucket(valueCol, r, w)): _*)).as(Seq("row", "bucket")))
    // the sketch is d·w rows — broadcast it under the probes
    cells.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(valueCol).agg(min(col("cnt")).as("cms_est"))
  }

  /** Sketch + estimate + exact audit over the df's own distinct
    * values: (value, n_exact, cms_est, over_err) — over_err ≥ 0 by
    * construction (CMS never undercounts). */
  def cmsFrequencies(df: DataFrame, valueCol: String,
      d: Int = DefaultCmsDepth, w: Int = DefaultCmsWidth): DataFrame = {
    val sk = cmsSketch(df, valueCol, d, w)
    val exact = df.groupBy(valueCol).agg(count(lit(1)).as("n_exact"))
    exact.join(cmsEstimate(sk, exact.select(valueCol), valueCol, d, w),
        valueCol)
      .withColumn("over_err", col("cms_est") - col("n_exact"))
  }

  /** Streaming face of [[sketch]]: per event-time window × keys, the
    * mergeable HLL bucket-max state, emitted when the watermark closes
    * the window (append mode). The sketch rows ARE the deliverable —
    * a monitoring consumer stores them per window and rolls up with
    * [[estimate]] (or unions windows by bucket-max first: the merge
    * property SketchesSpec pins). One stateful aggregation, state
    * bounded at m rows per (window, keys) — the whole point of
    * sketching the firehose instead of buffering distinct values. */
  private def streamingSketchWin(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], valueCol: String,
      b: Int, watermark: String): DataFrame =
    stream
      .filter(col(valueCol).isNotNull)
      // pre-project bucket AND rho in one pass like the batch sketch:
      // as groupBy-vs-agg expressions they'd live in separate
      // HashAggregate projections and each pay the md5 hash chain
      .select((col(eventTimeCol) +: keys.map(col)) ++
        Seq(hllBucket(valueCol, b).as("bucket"),
          hllRho(valueCol, b).as("rho")): _*)
      .withWatermark(eventTimeCol, watermark)
      .groupBy((window(col(eventTimeCol), windowDur) +: keys.map(col)) :+
        col("bucket"): _*)
      .agg(max(col("rho")).as("r"))

  def streamingSketch(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], valueCol: String,
      b: Int = DefaultB, watermark: String = "0 seconds"): DataFrame =
    streamingSketchWin(stream, eventTimeCol, windowDur, keys, valueCol,
        b, watermark)
      .select((col("window.start").as("window_start") +:
        keys.map(col)) ++ Seq(col("bucket"), col("r")): _*)

  /** The full streaming answer to "how many DISTINCT values per
    * window × keys" — which Spark streaming aggregation cannot express
    * exactly (`count(DISTINCT)` is unsupported on streams) and the
    * sketch answers in bounded state: level 1 is the windowed
    * bucket-max sketch, level 2 re-windows on `window_time` (the
    * chained-stateful-operator shape) and rolls the ≤ m bucket rows up
    * through the SAME estimator tail as the batch [[estimate]].
    * Output (append on window close): (window_start, keys, n_buckets,
    * n_zero, hll_est). Batch parity spec-pinned: the closed window's
    * row equals estimate(sketch(batch rows)). */
  def streamingDistinct(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], valueCol: String,
      b: Int = DefaultB, watermark: String = "0 seconds"): DataFrame = {
    val sk = streamingSketchWin(stream, eventTimeCol, windowDur, keys,
      valueCol, b, watermark)
    val rolled = sk
      .groupBy(window(window_time(col("window")), windowDur) +:
        keys.map(col): _*)
      .agg(count(lit(1)).cast("int").as("n_buckets"),
        sum(zTerm).as("zp"))
    estimateCols(rolled,
      col("window.start").as("window_start") +: keys.map(col), b)
  }

  /** Streaming face of [[cmsSketch]]: per event-time window × keys,
    * additive cells (the CMS merge is a plain sum, so this is ONE
    * windowed count aggregation over the exploded hash rows). */
  def streamingCmsSketch(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], valueCol: String,
      d: Int = DefaultCmsDepth, w: Int = DefaultCmsWidth,
      watermark: String = "0 seconds"): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    stream
      .filter(col(valueCol).isNotNull)
      .select((col(eventTimeCol) +: keys.map(col)) :+
        posexplode(array((0 until d).map(r =>
          cmsBucket(valueCol, r, w)): _*)).as(Seq("row", "bucket")): _*)
      .withWatermark(eventTimeCol, watermark)
      .groupBy((window(col(eventTimeCol), windowDur) +: keys.map(col)) ++
        Seq(col("row"), col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
      .select((col("window.start").as("window_start") +: keys.map(col)) ++
        Seq(col("row"), col("bucket"), col("cnt")): _*)
  }

  /** Sketch + estimate + exact comparison in one relation:
    * (keys, n_exact, n_buckets, n_zero, hll_est, rel_err) — the
    * accuracy-auditing surface (the exact side is the expensive
    * distinct shuffle the sketch exists to avoid; here it doubles as
    * the oracle-checked ground truth). */
  def hllDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      b: Int = DefaultB): DataFrame = {
    val est = estimate(sketch(df, keys, valueCol, b), keys, b)
    val exact = df.groupBy(keys.map(col): _*)
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    // LEFT join from exact: a key whose values are all NULL has
    // n_exact = 0 and NO sketch rows (sketch drops nulls) — it must
    // still appear in the audit surface, as (0 buckets, all-zero
    // sketch, est 0, rel_err 0), not silently vanish
    exact.join(est, keys, "left")
      .withColumn("n_buckets", coalesce(col("n_buckets"), lit(0)))
      .withColumn("n_zero", coalesce(col("n_zero"), lit(1 << b)))
      .withColumn("hll_est", coalesce(col("hll_est"), lit(0.0)))
      .withColumn("rel_err",
        when(col("n_exact") === 0, lit(0.0)).otherwise(round(
          abs(col("hll_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4)))
  }

  // -------------------------------------------------------------------
  // HDR-histogram quantile sketch — the quantile member of the sketch
  // family (HLL = distinct, CMS = frequency, HDR = quantiles). The
  // reference computes `percentiles` by sorting the events buffered in
  // each window (streams.clj:1020-1043 sorted-sample) — exact, but the
  // state is every event in the window. At 100 TB the bounded-state
  // answer is a log-linear histogram (HdrHistogram / DDSketch shape,
  // Masson et al. 2019): bucket a non-negative long by its binary
  // exponent with `sb` linear sub-bucket bits, so the relative error
  // of any quantile is <= 2^-sb while the whole per-key state is a few
  // hundred ADDITIVE cells — deterministic, mergeable by cell-wise
  // addition, and (being pure integer bit arithmetic: printed binary
  // length + shifts, no libm anywhere) replayed EXACTLY by the DuckDB
  // oracle.
  // -------------------------------------------------------------------

  /** Default sub-bucket precision: 5 bits → quantile relative error
    * <= 2^-5 ~ 3.1%, <= (64-5)·2^5 + 2^5 = 1920 cells per key worst
    * case over the full long range (far fewer in practice). */
  val DefaultSubBits = 5

  /** Bucket LOWER BOUND (= the bucket id AND the quantile
    * representative) of a non-negative long: clear everything below
    * the top `sb` bits after the leading 1. `rep` is monotone in v and
    * bijective with (exponent, sub-bucket), so grouping by `rep` IS
    * the histogram. Bit length via the printed binary string — the one
    * cross-engine-identical form (Spark conv == DuckDB bin, "0" for
    * zero); shifts are exact bit ops (never `/`: double division would
    * round a 60-bit value past the 53-bit mantissa). */
  private def hdrRep(v: Column, sb: Int): Column = {
    val shift = greatest(
      length(conv(v.cast("string"), 10, 2)) - lit(1 + sb), lit(0))
    call_function("shiftleft", call_function("shiftright", v, shift),
      shift)
  }

  /** The mergeable quantile state: one row per (keys, rep) with the
    * count of values in that bucket — additive cells like the CMS, so
    * merge = groupBy(keys, rep).sum(cnt). Domain is non-negative longs
    * (latencies, sizes, counts — the HDR-histogram domain; scale
    * doubles with floor(x·10^k) first, like the repo's scaled-long
    * convention). NULLs and negatives are excluded up front. */
  def hdrSketch(df: DataFrame, keys: Seq[String], v: Column,
      sb: Int = DefaultSubBits): DataFrame = {
    require(sb >= 1 && sb <= 16, s"sb must be in [1,16], got $sb")
    df.filter(v.isNotNull && v >= 0)
      .select(keys.map(col) :+ hdrRep(v, sb).as("rep"): _*)
      .groupBy((keys :+ "rep").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Nearest-rank quantiles from a [[hdrSketch]]: for each requested
    * per-mille quantile q (500 = median), rank = ceil(q·n/1000) in
    * EXACT integer arithmetic (`div`, no double rounding at the
    * boundaries), answer = the smallest bucket whose cumulative count
    * reaches the rank. Returns (keys, q_milli, n, hdr_est); hdr_est is
    * the bucket lower bound, so it UNDER-estimates by < 2^-sb relative
    * — the one-sided contract [[hdrQuantilesAudit]] checks per row.
    * Scale shape: the sketch is <= ~2k rows per key; the window
    * cumsum and the probe join touch only those rows, never the data. */
  def hdrQuantiles(sk: DataFrame, keys: Seq[String], qMillis: Seq[Int],
      sb: Int = DefaultSubBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qMillis.nonEmpty && qMillis.forall(q => q >= 1 && q <= 1000),
      s"q_milli values must be in [1,1000], got $qMillis")
    val w = Window.partitionBy(keys.map(col): _*).orderBy("rep")
    val cum = sk.withColumn("cum", sum(col("cnt")).over(w))
    val probes = sk.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("n"))
      .select(keys.map(col) :+ col("n") :+
        explode(array(qMillis.map(lit): _*)).as("q_milli"): _*)
      .withColumn("rnk", greatest(
        expr("(q_milli * n + 999) div 1000"), lit(1L)))
    probes.join(cum, keys)
      .filter(col("cum") >= col("rnk"))
      .groupBy((keys :+ "q_milli").map(col): _*)
      .agg(min(col("n")).as("n"), min(col("rep")).as("hdr_est"))
      .select(keys.map(col) :+ col("q_milli") :+ col("n") :+
        col("hdr_est"): _*)
  }

  /** Sketch + quantiles + exact nearest-rank comparison — the
    * accuracy-auditing surface: (keys, q_milli, n, hdr_est, exact,
    * under_err, bound_ok) with under_err = exact − hdr_est >= 0 and
    * bound_ok = under_err·2^sb <= hdr_est (the <= 2^-sb relative-error
    * guarantee, trivially true in the exact small-value range). The
    * exact side is the full per-key value sort the sketch avoids. */
  def hdrQuantilesAudit(df: DataFrame, keys: Seq[String], v: Column,
      qMillis: Seq[Int], sb: Int = DefaultSubBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sb >= 1 && sb <= 16, s"sb must be in [1,16], got $sb")
    val dom = df.filter(v.isNotNull && v >= 0)
      .select(keys.map(col) :+ v.as("v"): _*)
    // r22: ONE corpus pass feeds both sides. The sketch groups by
    // (keys, rep) and the exact side by (keys, v); rep is a pure
    // function of v and the cells are additive, so the sketch is
    // EXACTLY the per-value count relation re-aggregated by rep —
    // computing hdrSketch(dom) separately re-scanned the corpus a
    // second time (a full second scan at any scale; 2 of this query's
    // 12 scheduler jobs at sf0.1). Values per key are bounded like the
    // sketch rows are, so the regroup is a tiny-relation aggregation.
    val perValue = dom.groupBy((keys :+ "v").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val sk = perValue
      .select(keys.map(col) :+ hdrRep(col("v"), sb).as("rep") :+
        col("cnt"): _*)
      .groupBy((keys :+ "rep").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
    val est = hdrQuantiles(sk, keys, qMillis, sb)
    val w = Window.partitionBy(keys.map(col): _*).orderBy("v")
    val vcum = perValue
      .withColumn("cum", sum(col("cnt")).over(w))
    val exact = est.select(keys.map(col) :+ col("q_milli") :+
        greatest(expr("(q_milli * n + 999) div 1000"), lit(1L))
          .as("rnk"): _*)
      .join(vcum, keys)
      .filter(col("cum") >= col("rnk"))
      .groupBy((keys :+ "q_milli").map(col): _*)
      .agg(min(col("v")).as("exact"))
    est.join(exact, keys :+ "q_milli")
      .withColumn("under_err", col("exact") - col("hdr_est"))
      .withColumn("bound_ok",
        col("under_err") * lit(1L << sb) <= col("hdr_est"))
  }

  /** Streaming face of [[hdrSketch]]: per event-time window × keys,
    * the additive bucket cells as ONE windowed count aggregation
    * (append on window close) — bounded state per (window, keys), the
    * firehose answer to "p99 latency per service per minute" that the
    * reference computes by buffering and sorting every event in the
    * window (streams.clj percentiles). `v` must be a non-negative
    * long derived from the stream's columns. */
  def streamingHdrSketch(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], v: Column,
      sb: Int = DefaultSubBits,
      watermark: String = "0 seconds"): DataFrame =
    streamingHdrWin(stream, eventTimeCol, windowDur, keys, v, sb,
        watermark)
      .select((col("window.start").as("window_start") +:
        keys.map(col)) ++ Seq(col("rep"), col("cnt")): _*)

  private def streamingHdrWin(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], v: Column, sb: Int,
      watermark: String): DataFrame =
    stream
      .filter(v.isNotNull && v >= 0)
      .select((col(eventTimeCol) +: keys.map(col)) :+
        hdrRep(v, sb).as("rep"): _*)
      .withWatermark(eventTimeCol, watermark)
      .groupBy((window(col(eventTimeCol), windowDur) +: keys.map(col)) :+
        col("rep"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** The full streaming answer to "which quantiles per window × keys"
    * in bounded state: level 1 is the windowed bucket histogram, level
    * 2 re-windows on `window_time` (the chained-stateful-operator
    * shape, like [[streamingDistinct]]) and collects the <= ~2k cells
    * per (window, keys) into one sorted array; the quantile scan over
    * that bounded array is a stateless higher-order fold — the exact
    * rank arithmetic of [[hdrQuantiles]], one pass per requested q.
    * Output (append on window close): (window_start, keys, q_milli, n,
    * hdr_est). Batch parity spec-pinned: the closed window's rows
    * equal hdrQuantiles(hdrSketch(batch rows)). */
  def streamingQuantiles(stream: DataFrame, eventTimeCol: String,
      windowDur: String, keys: Seq[String], v: Column, qMillis: Seq[Int],
      sb: Int = DefaultSubBits,
      watermark: String = "0 seconds"): DataFrame = {
    require(qMillis.nonEmpty && qMillis.forall(q => q >= 1 && q <= 1000),
      s"q_milli values must be in [1,1000], got $qMillis")
    val sk = streamingHdrWin(stream, eventTimeCol, windowDur, keys, v,
      sb, watermark)
    val rolled = sk
      .groupBy(window(window_time(col("window")), windowDur) +:
        keys.map(col): _*)
      .agg(sum(col("cnt")).as("n"),
        sort_array(collect_list(struct(col("rep"), col("cnt"))))
          .as("cells"))
    rolled
      .select((col("window.start").as("window_start") +: keys.map(col)) ++
        Seq(col("n"), col("cells"),
          explode(array(qMillis.map(lit): _*)).as("q_milli")): _*)
      .withColumn("rnk", greatest(
        expr("(q_milli * n + 999) div 1000"), lit(1L)))
      // scan the sorted cells once: first rep whose cumsum reaches the
      // rank (cells are bounded, so the interpreted lambda is cheap)
      .withColumn("hdr_est", expr(
        """aggregate(cells,
             named_struct('acc', cast(0 as bigint), 'ans', cast(-1 as bigint)),
             (st, c) -> if(st.ans >= 0, st,
               named_struct('acc', cast(st.acc + c.cnt as bigint),
                 'ans', cast(if(st.acc + c.cnt >= rnk, c.rep, -1) as bigint))),
             st -> st.ans)"""))
      .select((col("window_start") +: keys.map(col)) ++
        Seq(col("q_milli"), col("n"), col("hdr_est")): _*)
  }

  /** Heavy hitters via the CMS in the honest two-pass 100 TB shape
    * (Cormode & Muthukrishnan 2005 §4.2): the naive "group by value,
    * filter count >= φn" pays a full per-distinct-value shuffle; here
    * pass 1 builds the d×w sketch (one bounded aggregation), pass 2
    * re-reads the data with the sketch embedded as a LITERAL lookup
    * table — a map-side filter that drops every non-heavy row BEFORE
    * the only shuffle, which then carries heavy candidates alone. CMS
    * never undercounts, so no true heavy hitter can be filtered out
    * (one-sided contract: possible false positives, zero false
    * negatives — the audit columns surface both).
    *
    * The sketch collect is d·w rows (the bounded-collect discipline:
    * eager, tiny, documented); n comes free as row 0's cell sum.
    * Returns (value, cms_est, n_exact, thr, is_true_heavy) for every
    * value whose ESTIMATE reaches thr = ceil(φ‰·n/1000). */
  def cmsHeavyHitters(df: DataFrame, valueCol: String, phiMilli: Int,
      d: Int = DefaultCmsDepth, w: Int = DefaultCmsWidth): DataFrame = {
    require(phiMilli >= 1 && phiMilli <= 1000,
      s"phiMilli must be in [1,1000], got $phiMilli")
    val cells = Array.fill(d, w)(0L)
    cmsSketch(df, valueCol, d, w).collect().foreach { r =>
      cells(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2)
    }
    val n = cells(0).sum // every non-null row lands in exactly one row-0 cell
    val thr = math.max((phiMilli.toLong * n + 999) / 1000, 1L)
    val cellLit = array(cells.map(row => array(row.map(lit): _*)): _*)
    val est = least((0 until d).map(r =>
      element_at(element_at(cellLit, r + 1),
        (cmsBucket(valueCol, r, w) + 1).cast("int"))): _*)
    // r22: est is d md5 chains per row — the dominant per-row cost of
    // the candidate pass. Materialize it through a one-element Generate
    // rather than a plain projection: predicate pushdown walks filters
    // through projections AND RepartitionByExpression, so a caller that
    // widened a one-split scan with an explicit spread exchange (the
    // q_cms_heavy entry) found est+filter pushed back BELOW its exchange
    // into the single scan task (r22 job log: 0.49 s, 1 task). A filter
    // on generator output cannot cross the Generate, so the est work
    // stays above the caller's exchange; without such an exchange the
    // Generate sits in the same narrow map stage as before (still
    // whole-stage-codegen'd) and the map-side-filter-before-shuffle
    // scale shape is unchanged.
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol), explode(array(est)).as("cms_est"))
      .filter(col("cms_est") >= thr)
      .groupBy(valueCol)
      .agg(min(col("cms_est")).as("cms_est"),
        count(lit(1)).as("n_exact"))
      .withColumn("thr", lit(thr))
      .withColumn("is_true_heavy", col("n_exact") >= lit(thr))
  }
}
