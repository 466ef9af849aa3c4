package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: brute-force cosine top-k with the query
  * side broadcast (one pass over the corpus, no shuffle of the big
  * side). Scale paths: random-hyperplane LSH bucketing (candidate
  * generation as a bucket-equijoin) and IVF (fixed-cell probes).
  *
  * Dot products use `zip_with`/`aggregate` higher-order functions —
  * codegen-friendly Catalyst expressions, no UDF.
  *
  * Caching contract (eager): every query-batch entry point whose
  * result is bounded (k × |queryIds| rows — driver-bounded exactly
  * like the `queryIds` argument and the per-query LUT broadcasts)
  * evaluates NOW, releases its intermediate caches, and returns the
  * result as a local relation — repeated ANN calls in a long-lived
  * session pin nothing (CacheDisciplineSpec asserts the catalog is
  * empty after the whole entry-query ANN family runs). The `*Plan`
  * variants expose the lazy plans (for plan audits / composition);
  * their second member lists the caches the caller must release.
  * Corpus-wide rankers (`lshTopK`, `lshTopKBanded`) stay lazy and
  * cache nothing — their self-joins reuse the bucket exchange, and
  * caching a 100 TB normalized corpus is the wrong posture anyway.
  */
object Similarity {

  /** Collect a TINY relation (centroids, codebooks) into a local
    * relation and release its cache: callers get broadcast-ready
    * literals instead of a session-pinned cache entry. */
  private[pipeline] def toLocal(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect()
    df.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  // --------------------------------------------------------------------
  // r21 driver-side small-relation algebra (optimization guide §1.2.1).
  //
  // The probe/LUT relations of the ANN family are tiny by construction
  // (|queries| × nprobe rows, m × ksub codebook entries) yet were
  // computed as chains of distributed aggregations — under AQE every
  // exchange and broadcast in those chains materializes as its own
  // scheduler job, so one ivfPqTopK call paid ~35 sequential barriers
  // (r21 profile: 3.85 s wall with the 32-core cluster ~95% idle, and
  // at 100 TB every barrier is a synchronization point). The fix is
  // the hyperplane-literal move the file already uses: collect the
  // bounded relations once, do the tiny algebra on the driver THROUGH
  // THE SAME [[VectorKernels]] the distributed expressions call (so
  // the arithmetic cannot drift by construction), and hand the result
  // back as one local relation / literal. Corpus-scale passes
  // (normalize, assign, encode, score) stay distributed and narrow.
  // --------------------------------------------------------------------

  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Driver-side mirror of [[dotScaled]] — delegates to the SAME
    * kernel ([[VectorKernels.dotScaled]]) the codegen'd expression
    * calls, so scaled-long scores are bit-identical. */
  private def dotScaledLocal(a: Array[Double], b: Array[Double],
      scale: Double = 1e16): java.lang.Long =
    if (a == null || b == null) null
    else VectorKernels.dotScaled(new GenericArrayData(a),
      new GenericArrayData(b), scale)

  /** Collect a bounded (id, vector) relation (query units, centroids)
    * to driver pairs — the bounded-collect discipline the codebook and
    * hyperplane literals already follow. */
  private def collectVecs(df: DataFrame): Array[(Long, Array[Double])] =
    df.collect().map { r =>
      val v = if (r.isNullAt(1)) null
        else r.getSeq[Double](1).toArray
      (r.getLong(0), v)
    }

  /** Integer label from a collected row whatever the column's integral
    * type — label columns ride IntegerType in the driver corpora but
    * LongType in some spec/caller corpora, and the codegen'd kernels
    * (which read the low 32 bits of an UnsafeRow slot) accepted both;
    * the external-Row mirror must too. */
  private def intAt(r: org.apache.spark.sql.Row, i: Int): Int =
    r.get(i) match {
      case n: Int => n
      case n: Long => n.toInt
      case n: java.lang.Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"integral label expected at field $i, got $other")
    }

  /** Re-box an int label to `dt` so locally rebuilt relations keep the
    * caller's schema. */
  private def boxLabel(l: Int,
      dt: org.apache.spark.sql.types.DataType): Any = dt match {
    case org.apache.spark.sql.types.LongType => l.toLong
    case _ => l
  }

  /** array<struct<label int, cvec array<double>>> literal from collected
    * codebook entries — the same driver-literal move as the hyperplane
    * matrices; ConstantFolding collapses it to one Literal, so the
    * argmax kernels run as a pure narrow map with no join at all. */
  private def centsLit(entries: Seq[(Int, Array[Double])]): Column =
    array(entries.sortBy(_._1).map { case (l, v) =>
      struct(lit(l).as("label"),
        (if (v == null) lit(null).cast("array<double>") else lit(v))
          .as("cvec"))
    }: _*)

  /** Driver-side probe ranking: for each collected query unit, the
    * `nprobe` best cells by scaled dot — the same (score DESC NULLS
    * LAST, label ASC) order the former `row_number` window
    * materialized, over a |queries|×|labels| relation that never
    * needed a distributed sort. Returns (query_id, qunit, cell,
    * cell_score) tuples. */
  private def probeRows(qRows: Array[(Long, Array[Double])],
      centRows: Array[(Int, Array[Double])], nprobe: Int)
      : Array[(Long, Array[Double], Int, java.lang.Long)] =
    qRows.flatMap { case (qid, qu) =>
      centRows
        .map { case (l, cv) => (l, dotScaledLocal(qu, cv)) }
        .sortBy { case (l, s) =>
          (s == null, if (s == null) 0L else -s.longValue, l) }
        .take(nprobe)
        .map { case (l, s) => (qid, qu, l, s) }
    }

  private def probesSchema(withScore: Boolean) = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qunit", ArrayType(DoubleType, containsNull = true),
        nullable = true),
      StructField("cell", IntegerType, nullable = true))
    StructType(if (withScore)
      base :+ StructField("cell_score", LongType, nullable = true)
    else base)
  }

  /** Evaluate a BOUNDED result now and release the intermediate caches
    * backing it — the funnel's count-and-release discipline for the
    * ANN entry points. The result rides back as a local relation with
    * the identical schema, so downstream plans and oracle hashes are
    * unchanged. */
  private def eagerRelease(result: DataFrame,
      pinned: Seq[DataFrame]): DataFrame = {
    val spark = result.sparkSession
    val rows = result.collect()
    pinned.foreach { df => df.unpersist(); () }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** Sequential-order dot product of two double arrays (fast path). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Order-independent exact dot product for UNIT vectors: per-element
    * double products (deterministic) are floored to 1e-16-scaled longs
    * and summed in integer arithmetic — order- and engine-independent
    * like a decimal sum, but fully codegen'd (BigDecimal boxing made
    * the decimal version the hot spot of every pairwise stage).
    * |x·y| ≤ 1 by Cauchy–Schwarz, so 64 terms stay ≤ 6.4e17 < 2^63.
    * [[dot]] is the cheaper plain-double in-partition variant.
    *
    * Hot path: the one-pass [[VectorKernels]] expression (the
    * zip_with/aggregate HOF form is interpreted per element);
    * [[dotExactColumns]] is the column spec it is parity-pinned to. */
  def dotExact(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(DotScaledExpr(ColumnBridge.expression(a),
      ColumnBridge.expression(b), 1e16)).cast("double") / lit(1e16)
  }

  private[graft] def dotExactColumns(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => floor(x * y * lit(1e16))),
      lit(0L), (acc, x) => acc + x).cast("double") / lit(1e16)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalized copy (cast to double once, normalize once — cosine
    * then reduces to a dot product in the join). The norm sums squares
    * through decimal so the unit vector is bit-identical on any engine;
    * sqrt is IEEE-exact everywhere.
    *
    * The norm is zipped in via `array_repeat` rather than referenced
    * inside the per-element lambda: a scalar subexpression in a lambda
    * body is re-evaluated per element, which made the (decimal) norm an
    * O(dims²) cost per evaluation. */
  def normalized(a: Column): Column = {
    // hot path: the one-pass NormalizeKernel expression; the column
    // form below is the spec it is parity-pinned to
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(NormalizeExpr(ColumnBridge.expression(a)))
  }

  private[graft] def normalizedColumns(a: Column): Column = {
    val d = transform(a, x => x.cast("double"))
    val n = sqrt(aggregate(
      transform(d, x => (x * x).cast(DecimalType(38, 18))),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 18)),
      (acc, x) => (acc + x).cast(DecimalType(38, 18))).cast("double"))
    zip_with(d, array_repeat(n, size(d)), (x, nn) => x / nn)
  }

  /** Brute-force cosine top-k: for each query vector (small set,
    * broadcast), rank the whole corpus. Ties broken by vec_id; cosine
    * rounded so ranking is stable across engines and partitionings. */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val (result, pinned) = bruteForceTopKPlan(embeddings, queryIds, k)
    eagerRelease(result, pinned)
  }

  private[graft] def bruteForceTopKPlan(embeddings: DataFrame,
      queryIds: Seq[Long], k: Int): (DataFrame, Seq[DataFrame]) = {
    // materialize the normalized corpus once; the join would otherwise
    // re-evaluate the unit expression per candidate pair (at cluster
    // scale this is the standard normalize-once-then-scan layout)
    val e = embeddings.select(col("vec_id"), normalized(col("embedding")).as("unit"))
      .cache()
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qunit"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("unit"), col("qunit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    (scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k),
      Seq(e))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived integer mapped to [-0.5, 0.5). md5 (not a
    * platform-specific RNG) so any engine — including the DuckDB
    * oracle — could re-derive the exact constants. Computed ONCE on the
    * driver (it depends only on (plane, dim), never on data) and
    * shipped as literals: recomputing a constant hash matrix per row
    * was the dominant cost of the first implementation. */
  def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${plane}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 100000 - 50000).toDouble / 100000.0
  }

  /** The (planes × dims) hyperplane matrix as Scala constants. */
  def hyperplanes(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims)(planeComponent)

  /** Random-hyperplane LSH bucket id as ONE codegen'd expression per
    * row — no crossJoin row blowup, no shuffle: for each plane p, the
    * projection is an `aggregate` of unit·hyperplane (decimal-exact so
    * the sign is engine/order-independent); the sign bits pack into a
    * long. `dims` must match the embedding dimensionality. */
  def bucketExpr(unit: Column, planes: Int, dims: Int = 64,
      planeOffset: Int = 0): Column = {
    // one-pass kernel: all plane projections fold in a single array
    // traversal (the per-plane aggregate form re-walked the vector
    // once per plane, interpreted); bucketExprColumns is the spec
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(PlaneBucketExpr(
      ColumnBridge.expression(unit), planes, dims, planeOffset))
  }

  private[graft] def bucketExprColumns(unit: Column, planes: Int,
      dims: Int = 64, planeOffset: Int = 0): Column = {
    // the sign decision uses the same scaled-long trick as dotExact
    // (order/engine-independent): |x·c| ≤ ~5 per term, so a 1e12 scale
    // keeps 64-term sums far below 2^63 with 1e-12 precision
    def proj(p: Int): Column = {
      val hp = Array.tabulate(dims)(d => planeComponent(planeOffset + p, d))
      aggregate(
        zip_with(unit, lit(hp), (x, c) => floor(x * c * lit(1e12))),
        lit(0L), (acc, x) => acc + x)
    }
    (0 until planes).map(p => when(proj(p) >= 0, lit(1L << p)).otherwise(0L))
      .reduce(_ + _)
  }

  /** Random-hyperplane LSH bucket id per vector: docs hashing to the
    * same bucket are cosine-close with high probability. Narrow one-pass
    * projection — scales as a pure map. */
  def lshBuckets(embeddings: DataFrame, planes: Int = 8,
      dims: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      bucketExpr(transform(col("embedding"), x => x.cast("double")), planes,
        dims).as("bucket"))

  /** Double-arithmetic prefilter bound for a decimal-exact cosine: the
    * two differ by far less than this. */
  val CosineEps = 1e-6

  /** LSH-bucketed ANN top-k: candidates share a bucket; exact cosine
    * only within buckets. Recall/cost tuned by `planes`. `maxBucket`
    * drops pathological hot buckets (near-duplicate clusters, zero
    * vectors) whose self-join would go quadratic at scale; default
    * keeps everything. */
  def lshTopK(embeddings: DataFrame, k: Int, planes: Int = 8,
      dims: Int = 64, maxBucket: Int = Int.MaxValue): DataFrame = {
    // bucket sizes come from the narrow bucket projection, NOT the
    // normalized join — counting on `joined` would re-run the whole
    // normalization pass just to size buckets
    val buckets = lshBuckets(embeddings, planes, dims)
    val kept = Caps.cap(buckets.select("vec_id", "bucket"), Seq("bucket"),
      maxBucket, "ann_lsh")
    // corpus-wide output — stays lazy, caches NOTHING: both self-join
    // sides are the identical subplan, so the bucket exchange is built
    // once and reused (ReusedExchange), and pinning a normalized copy
    // of a 100 TB corpus in the cache would be the wrong posture
    val e = embeddings
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
      .join(kept, "vec_id")
    val a = e.as("a")
    val b = e.as("b")
    val scored = a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        round(dotExact(col("a.unit"), col("b.unit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF coarse-quantizer centroids: per-label mean of unit vectors as
    * an array column (label seeding instead of k-means iterations — the
    * assignment/probe machinery is identical, and the quantizer is
    * deterministic so the oracle can re-derive it). Decimal-exact dim
    * sums so centroid components are engine/order-independent. */
  def ivfCentroids(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("label"), normalized(col("embedding")).as("unit"))
    e.select(col("label"), posexplode(col("unit")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cvec"))
  }

  /** Lloyd-refined IVF centroids — real k-means on the coarse
    * quantizer, the full-dimension sibling of [[pqCodebooksRefined]]:
    * label-seeded init ([[ivfCentroids]]), then `iters` rounds of
    * max-scaled-dot assignment ([[CellArgmaxExpr]] — on UNIT vectors
    * max-dot IS min-L2, so training stays consistent with
    * [[ivfAssign]]) and decimal-exact per-dim re-means; a cell that
    * attracts nothing holds its previous centroid. Deterministic end
    * to end, so the DuckDB oracle replays the iteration. Cost: one
    * corpus pass per round (assignment is the narrow argmax map;
    * re-mean is one explode + two-stage aggregation). */
  def ivfCentroidsRefined(embeddings: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the unit relation is read ONCE PER ROUND (the seed pass computes
    // its own) — caching it pays only from the second round on; for
    // the common iters=1 call the materialization would be pure cost
    val unitsBase = embeddings
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
    val units = if (iters > 1) unitsBase.cache() else unitsBase
    // r21 barrier cut: the quantizer is tiny (|labels| rows), so it
    // lives on the DRIVER between rounds and each Lloyd round is
    // exactly ONE distributed job — the argmax assignment (centroids
    // embedded as literals, the hyperplane move) feeding the
    // decimal-exact re-mean, collected. The former per-round
    // cache/broadcast/count/hold-join chain was 3 scheduler barriers a
    // round; the hold-position rule (a cell that attracts nothing
    // keeps its centroid) is the same algebra, now a driver map.
    val seed = ivfCentroids(embeddings)
    val schema = seed.schema
    var cents: Array[(Int, Array[Double])] = seed.collect().map { r =>
      (intAt(r, 0), r.getSeq[Double](1).toArray)
    }
    for (_ <- 1 to iters) {
      val cl = centsLit(cents.toSeq)
      val coded = units.select(col("unit"), ColumnBridge.column(
        CellArgmaxExpr(ColumnBridge.expression(col("unit")),
          ColumnBridge.expression(cl))).as("cell"))
      val newMap = coded
        .select(col("cell"), posexplode(col("unit")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
          s => s("c")).as("ncvec"))
        .collect()
        .map(r => intAt(r, 0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.map { case (l, v) => (l, newMap.getOrElse(l, v)) }
    }
    if (iters > 1) { units.unpersist(); () }
    val spark = embeddings.sparkSession
    spark.createDataFrame(java.util.Arrays.asList(
      cents.sortBy(_._1).map { case (l, v) =>
        org.apache.spark.sql.Row(boxLabel(l, schema("label").dataType),
          v.toSeq) }: _*), schema)
  }

  /** Deterministic scaled-long dot used for IVF cell ranking (same
    * trick as [[dotExact]], without the double rescale). */
  private def dotScaled(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(DotScaledExpr(ColumnBridge.expression(a),
      ColumnBridge.expression(b), 1e16))
  }

  /** IVF vector→cell assignment: nearest centroid by inner product
    * (ties by label). The centroid table is tiny — collapsed to ONE
    * broadcast array row — so assignment is a pure narrow map over the
    * corpus (a codegen'd per-row argmax, [[CellArgmaxExpr]]): the
    * 100 TB scale shape. The earlier windowed form (broadcast-join to
    * corpus×C rows, then `row_number` per vector — a corpus-wide sort
    * the argmax never needed) is retained as the parity-pinned spec
    * ([[ivfAssignWindowed]], PipelineSpec). */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // r21: the tiny centroid table is collected once and embedded as a
    // LITERAL (the hyperplane move) instead of an aggregated broadcast
    // relation — assignment is now a join-free narrow map, dropping the
    // collect_list job + broadcast build barrier every caller paid.
    // Bounded by |labels|; same ties-to-smallest-label kernel.
    val centRows = centroids.select(col("label"), col("cvec")).collect()
      .map(r => (intAt(r, 0), r.getSeq[Double](1).toArray))
    val cl = centsLit(centRows.toIndexedSeq)
    embeddings
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
      .select(col("vec_id"), col("unit"), ColumnBridge.column(
        CellArgmaxExpr(ColumnBridge.expression(col("unit")),
          ColumnBridge.expression(cl))).as("cell"))
  }

  /** The windowed executable spec of [[ivfAssign]] — identical
    * assignments, materialized via corpus×C scoring + a per-vector
    * row_number (and, modulo syntax, the DuckDB oracle's formulation). */
  private[graft] def ivfAssignWindowed(embeddings: DataFrame,
      centroids: DataFrame): DataFrame = {
    val scored = embeddings
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
      .join(broadcast(centroids))
      .select(col("vec_id"), col("unit"), col("label"),
        dotScaled(col("unit"), col("cvec")).as("score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("unit"), col("label").as("cell"))
  }

  /** IVF ANN top-k: rank centroids per query, probe the `nprobe`
    * nearest cells, exact cosine only against those cells' members.
    * Complements [[lshTopK]]: IVF probes a fixed number of partitions
    * (recall degrades gracefully), LSH probes hash collisions. At scale
    * the corpus is partitioned by cell, so a probe reads nprobe/C of
    * the data; the query and centroid sides broadcast. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 3): DataFrame = {
    val (result, pinned) = ivfTopKPlan(embeddings, queryIds, k, nprobe)
    eagerRelease(result, pinned)
  }

  private[graft] def ivfTopKPlan(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, nprobe: Int = 3): (DataFrame, Seq[DataFrame]) = {
    val spark = embeddings.sparkSession
    // centroid training is a full corpus pass — collect the tiny result
    // once (r21: a local relation instead of a cache entry, so probe
    // ranking and assignment read it barrier-free)
    val centRows = ivfCentroids(embeddings).select(col("label"), col("cvec"))
      .collect().map(r => (intAt(r, 0), r.getSeq[Double](1).toArray))
    val centsLocal = spark.createDataFrame(java.util.Arrays.asList(
      centRows.map { case (l, v) => org.apache.spark.sql.Row(l, v.toSeq) }
        .toIndexedSeq: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true))))
    val assigned = ivfAssign(embeddings, centsLocal).cache()
    // bounded query collect (|queryIds| rows): probe ranking is driver
    // algebra through the same kernel — the former windowed form paid a
    // broadcast build + two stage barriers for a |queries|×C relation
    val qRows = collectVecs(assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qunit")))
    val probes = spark.createDataFrame(java.util.Arrays.asList(
      probeRows(qRows, centRows, nprobe).map { case (qid, qu, cell, _) =>
        org.apache.spark.sql.Row(qid, if (qu == null) null else qu.toSeq,
          cell) }.toIndexedSeq: _*), probesSchema(withScore = false))
    val scored = assigned.join(broadcast(probes),
        assigned("cell") === probes("cell") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("unit"), col("qunit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    (scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k),
      Seq(assigned))
  }

  /** Shared banded-LSH candidate machinery: `bands` independent bucket
    * tables of `planesPerBand` sign bits from the RAW vectors
    * (hyperplane signs are scale-invariant), candidates = id pairs
    * colliding in ANY band. Returns (candidates, units): the units
    * relation carries the normalized vectors for exact scoring.
    * `directed` emits both (a,b) and (b,a) for query-centric top-k;
    * undirected emits a<b pairs for dedup. `maxBucket` drops
    * pathological hot buckets before the self-join. */
  private[pipeline] def bandedCandUnits(embeddings: DataFrame, bands: Int,
      planesPerBand: Int, dims: Int, maxBucket: Int, directed: Boolean,
      leftIdCol: String, rightIdCol: String): (DataFrame, DataFrame) = {
    val dv = transform(col("embedding"), x => x.cast("double"))
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        bucketExpr(dv, planesPerBand, dims, b * planesPerBand).as("bucket"))
    }: _*)
    // lazy and uncached (same posture as lshTopK): the capped band
    // relation's self-join reuses its exchange, and the units side is
    // a narrow re-projection, not a second corpus pass
    val e = embeddings.select(col("vec_id"),
      normalized(col("embedding")).as("unit"), bandCols.as("bb"))
    val banded = e.select(col("vec_id"), explode(col("bb")).as("b1"))
      .select(col("vec_id"), col("b1.band").as("band"),
        col("b1.bucket").as("bucket"))
    val capped = Caps.cap(banded, Seq("band", "bucket"), maxBucket,
      "banded_lsh")
    val idCond = if (directed) col("a.vec_id") =!= col("b.vec_id")
      else col("a.vec_id") < col("b.vec_id")
    // r22: the exact-cosine verification the callers put ABOVE this
    // relation (unit joins + scaled-dot filters) executes in the stage
    // over the distinct's exchange, and AQE sizes that exchange by the
    // candidate BYTES (two longs per row) — so the whole verify stage
    // coalesced to ONE task while the other cores idled (q_semantic_dedup
    // job log: 1 task, 0.9 of 2.0 s). Same output-compute ≫ input-bytes
    // AQE blind spot as the gap-emission windows (Windows.emissionSpread):
    // an explicit repartition at the configured width on the distinct's
    // own keys satisfies its clustering requirement (replaces the implicit
    // exchange — none added) and opts it out of coalescing. Map-side
    // pre-aggregation below the exchange is lost, a ≤`bands`-fold
    // duplication of two-long rows — noise against the verify
    // parallelism; at cluster scale the configured width is the properly
    // sized one.
    val verifyWidth = try embeddings.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    catch { case scala.util.control.NonFatal(_) =>
      embeddings.sparkSession.sparkContext.defaultParallelism }
    val cand = capped.as("a")
      .join(capped.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && idCond)
      .select(col("a.vec_id").as(leftIdCol), col("b.vec_id").as(rightIdCol))
      .repartition(verifyWidth, col(leftIdCol), col(rightIdCol))
      .distinct()
    (cand, e.select(col("vec_id"), col("unit")))
  }

  /** Banded (multi-probe) LSH ANN top-k: candidates from
    * [[bandedCandUnits]], exact cosine on candidates only. OR-ing
    * narrow tables is what buys recall — the single-table [[lshTopK]]
    * keeps ≤10% of the true top-10 on the test corpus (measured by
    * [[annRecall]]), the banded form several times that at the same
    * total bit budget. */
  def lshTopKBanded(embeddings: DataFrame, k: Int, bands: Int = 4,
      planesPerBand: Int = 6, dims: Int = 64,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val (cand, units) = bandedCandUnits(embeddings, bands, planesPerBand,
      dims, maxBucket, directed = true, "query_id", "vec_id")
    val scored = cand
      .join(units.select(col("vec_id").as("query_id"), col("unit").as("qunit")),
        "query_id")
      .join(units, "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("qunit"), col("unit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Recall@k of the approximate paths against brute-force ground
    * truth — the measurement that justifies (or vetoes) an ANN config
    * before it ships: per query, the fraction of the true top-k that
    * the LSH-bucketed and IVF searches recover. All three pipelines
    * share the deterministic rounded-cosine ranking, so the overlap
    * count is engine-reproducible. */
  def annRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      planes: Int = 8, nprobe: Int = 3, bands: Int = 4,
      planesPerBand: Int = 6, dims: Int = 64): DataFrame = {
    val (result, pinned) = annRecallPlan(embeddings, queryIds, k, planes,
      nprobe, bands, planesPerBand, dims)
    eagerRelease(result, pinned) // one row per query — tiny
  }

  private[graft] def annRecallPlan(embeddings: DataFrame,
      queryIds: Seq[Long], k: Int, planes: Int = 8, nprobe: Int = 3,
      bands: Int = 4, planesPerBand: Int = 6, dims: Int = 64)
      : (DataFrame, Seq[DataFrame]) = {
    val dv = transform(col("embedding"), x => x.cast("double"))
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        bucketExpr(dv, planesPerBand, dims, b * planesPerBand).as("bucket"))
    }: _*)
    // ONE normalized + bucketed corpus pass feeds all four rankers;
    // calling the standalone functions would re-normalize (and pin) the
    // corpus four times over. Each ranker below reproduces its
    // standalone counterpart's arithmetic exactly.
    // (r22: spreading this cache to session width was A/B'd — interleaved
    // min-of-3, controls inside 1.2× — and REGRESSED 1.24×: the ranker
    // kernels are 0.1-0.4 s stages whose 32-way task overhead plus the
    // added exchange outweighs the parallelism at local[32]; same
    // verdict as r21's q_ann_brute probe. Left at scan width.)
    val base = embeddings.select(col("vec_id"), col("label"),
      normalized(col("embedding")).as("unit"),
      bucketExpr(dv, planes, dims).as("bucket"), bandCols.as("bb")).cache()
    val units = base.select(col("vec_id"), col("unit"))
    val q = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qunit"))

    def top(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("query_id", "vec_id")
    }
    def score(cand: DataFrame): DataFrame = cand
      .join(q, "query_id").join(units, "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("qunit"), col("unit")), 6).as("cosine"))

    val brute = top(units.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("unit"), col("qunit")), 6).as("cosine")))

    val lsh = top(base.as("a").join(base.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        round(dotExact(col("a.unit"), col("b.unit")), 6).as("cosine"))
      .filter(col("query_id").isin(queryIds: _*)))

    val bandedRel = base.select(col("vec_id"), explode(col("bb")).as("b1"))
      .select(col("vec_id"), col("b1.band").as("band"),
        col("b1.bucket").as("bucket"))
    val bcand = bandedRel.as("a").join(bandedRel.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"))
      .distinct()
      .filter(col("query_id").isin(queryIds: _*))
    val blsh = top(score(bcand))

    // r21: the quantizer is collected once to a local relation (the
    // ivf ranker and the ivfpq ranker's residual/encode/scoring passes
    // then read it barrier-free); assignment embeds it as a literal —
    // the codegen'd per-row argmax ([[CellArgmaxExpr]], identical
    // ties-to-smallest-label semantics as the windowed spec) as a pure
    // narrow map with no join at all.
    val cents = toLocal(base
      .select(col("label"), posexplode(col("unit")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cvec")))
    val centRows = cents.select(col("label"), col("cvec")).collect()
      .map(r => (intAt(r, 0), r.getSeq[Double](1).toArray))
    val assigned = {
      import org.apache.spark.sql.graft.ColumnBridge
      units.select(col("vec_id"), col("unit"), ColumnBridge.column(
          CellArgmaxExpr(ColumnBridge.expression(col("unit")),
            ColumnBridge.expression(centsLit(centRows.toIndexedSeq))))
          .as("cell"))
        .cache()
    }
    // bounded query collect: probe ranking is driver algebra (same
    // kernel, same DESC-NULLS-LAST/label order as the former window)
    val qRows = collectVecs(q)
    val probes = base.sparkSession.createDataFrame(java.util.Arrays.asList(
      probeRows(qRows, centRows, nprobe).map { case (qid, qu, cell, _) =>
        org.apache.spark.sql.Row(qid, if (qu == null) null else qu.toSeq,
          cell) }.toIndexedSeq: _*), probesSchema(withScore = false))
    val ivf = top(assigned.join(broadcast(probes),
        assigned("cell") === probes("cell") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotExact(col("unit"), col("qunit")), 6).as("cosine")))

    // PQ ranker: subspace codebooks are SLICES of the full-dim label
    // centroids already computed for IVF (the mean commutes with the
    // projection onto a subspace), so PQ costs no extra corpus pass
    // here; encode + ADC are the [[adcTopKRows]] shared pipeline, so
    // the recall measurement cannot drift from the ranker it measures.
    // r22: the slices are driver algebra over the already-collected
    // centRows (they were a Generate over the local centroid relation —
    // one scheduler job per call just to re-collect what the driver
    // held), and the query rows collected above thread through — the
    // per-ranker q collects were one barrier each.
    val pq = {
      val m = 8
      val dsub = dims / m
      val pqcbRows = centRows.flatMap { case (l, cv) =>
        (0 until m).map(s => (s, l, cv.slice(s * dsub, (s + 1) * dsub)))
      }
      adcTopKRows(units, qRows, pqcbRows, k, m, dims)
        .select("query_id", "vec_id")
    }

    // IVF×PQ ranker: the shared [[ivfPqRankedRows]] pipeline over the
    // recall probe's own assignment — recall here is capped by the IVF
    // cell restriction but measured against the residual quantizer,
    // the honest cost/quality point of the composed index.
    val ivfpq = ivfPqRankedRows(assigned, centRows, qRows, k, nprobe,
        8, 16, 1, dims)
      .select("query_id", "vec_id")

    val recall = brute
      .join(lsh.withColumn("lsh_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(blsh.withColumn("blsh_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(ivf.withColumn("ivf_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(pq.withColumn("pq_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .join(ivfpq.withColumn("ivfpq_hit", lit(1)), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("lsh_hit"), lit(0))).cast("long").as("lsh_hits"),
        sum(coalesce(col("blsh_hit"), lit(0))).cast("long").as("blsh_hits"),
        sum(coalesce(col("ivf_hit"), lit(0))).cast("long").as("ivf_hits"),
        sum(coalesce(col("pq_hit"), lit(0))).cast("long").as("pq_hits"),
        sum(coalesce(col("ivfpq_hit"), lit(0))).cast("long").as("ivfpq_hits"))
      .withColumn("lsh_recall",
        round(col("lsh_hits").cast("double") / col("k"), 6))
      .withColumn("blsh_recall",
        round(col("blsh_hits").cast("double") / col("k"), 6))
      .withColumn("ivf_recall",
        round(col("ivf_hits").cast("double") / col("k"), 6))
      .withColumn("pq_recall",
        round(col("pq_hits").cast("double") / col("k"), 6))
      .withColumn("ivfpq_recall",
        round(col("ivfpq_hits").cast("double") / col("k"), 6))
    (recall, Seq(base, assigned))
  }

  /** Scalar int8 quantization with a per-vector absmax scale — the
    * standard 4x memory compression before ANN indexing at scale (a
    * 100 TB float corpus becomes 25 TB of int8 + one float per vector).
    * Quantized value q = floor(x/absmax*127 + 0.5) (floor of +0.5 is
    * engine-identical, unlike round's HALF_UP/HALF_EVEN split);
    * reconstruction x̂ = q/127*absmax. `quantError` reports the mean
    * absolute reconstruction error per vector — the recall-vs-memory
    * dial. Both are narrow one-pass projections. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val dv = transform(col("embedding"), x => x.cast("double"))
    val absmax = array_max(transform(dv, x => abs(x)))
    embeddings.select(col("vec_id"),
      absmax.as("scale"),
      when(absmax === 0.0, transform(dv, _ => lit(0L)))
        .otherwise(zip_with(dv, array_repeat(absmax, size(dv)),
          (x, m) => floor(x / m * lit(127.0) + lit(0.5))))
        .as("qvec"))
  }

  def quantError(embeddings: DataFrame): DataFrame = {
    // one scan, no join: dv and scale become materialized columns, the
    // reconstruction chains as array expressions over them
    val dv = transform(col("embedding"), x => x.cast("double"))
    val base = embeddings.select(col("vec_id"), dv.as("dv"),
      array_max(transform(dv, x => abs(x))).as("scale"))
    val qvec = when(col("scale") === 0.0,
      transform(col("dv"), _ => lit(0L)))
      .otherwise(zip_with(col("dv"), array_repeat(col("scale"), size(col("dv"))),
        (x, m) => floor(x / m * lit(127.0) + lit(0.5))))
    base.select(col("vec_id"), round(col("scale"), 6).as("scale"),
      round(
        aggregate(
          zip_with(col("dv"),
            zip_with(qvec, array_repeat(col("scale"), size(col("dv"))),
              (qq, m) => qq / lit(127.0) * m),
            (x, xh) => abs(x - xh)),
          lit(0.0d), (acc, x) => acc + x) / size(col("dv")), 6)
        .as("mean_abs_err"))
  }

  // --------------------------------------------------------------------
  // Johnson–Lindenstrauss random projection: 64-d → outDims-d
  // --------------------------------------------------------------------

  /** Plane-id offset reserved for the JL projection matrix — disjoint
    * from the sign-LSH planes (ids 0..23 across the banded tables), so
    * the projection directions are independent of every LSH bucket
    * already derived from [[planeComponent]]. */
  val RpPlaneOffset = 2000

  /** All `outDims` 1e12-scaled JL projections of `unit` in ONE
    * codegen'd traversal (array<long>); [[rpScaledColumns]] is the
    * HOF-column spec it is parity-pinned to. */
  def rpScaled(unit: Column, outDims: Int, dims: Int = 64): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(PlaneProjectExpr(ColumnBridge.expression(unit),
      outDims, dims, RpPlaneOffset))
  }

  private[graft] def rpScaledColumns(unit: Column, outDims: Int,
      dims: Int = 64): Column = {
    def proj(j: Int): Column = {
      val hp = Array.tabulate(dims)(d => planeComponent(RpPlaneOffset + j, d))
      aggregate(
        zip_with(unit, lit(hp), (x, c) => floor(x * c * lit(1e12))),
        lit(0L), (acc, x) => acc + x)
    }
    // mirror the kernel's null convention: any zip_with null path
    // nulls the WHOLE array, not one component
    when(unit.isNull || size(unit) =!= dims ||
        exists(unit, x => x.isNull), lit(null))
      .otherwise(array((0 until outDims).map(proj): _*))
  }

  /** The divisor that makes scaled projections unbiased JL estimates:
    * the md5-derived plane entries are (discrete-)uniform on
    * [-0.5, 0.5) with variance σ² = 1/12, and a JL matrix needs
    * unit-variance entries scaled by 1/√outDims — so raw 1e12-scaled
    * long sums divide by 1e12·σ·√outDims = 1e12·√(outDims/12). One
    * shared double literal on both engines. */
  def rpDivisor(outDims: Int): Double =
    1e12 * math.sqrt(outDims.toDouble / 12.0)

  /** Johnson–Lindenstrauss random projection of the unit corpus:
    * 64-d float vectors → `outDims` dense doubles, rpⱼ = (unit ·
    * plane(2000+j)) / (σ·√outDims) with σ² = 1/12 the plane-entry
    * variance — so inner products (hence cosines and Euclidean gaps of
    * unit vectors) are preserved in expectation with the usual JL
    * concentration. [[rpDistortion]] measures the realized distortion,
    * [[rpRecall]] the retrieval cost. The projection itself is a pure
    * narrow map (one corpus traversal, no exchange): at 100 TB this is
    * the compression pass that makes every downstream pairwise stage
    * `outDims/64` as wide — run it once, write the projected table,
    * point LSH/ANN at it.
    *
    * Components come out engine-identical (scaled-long sums divided by
    * the one shared literal), so the DuckDB oracle replays them
    * bit-for-bit. */
  def randomProject(embeddings: DataFrame, outDims: Int = 16,
      dims: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      transform(rpScaled(normalized(col("embedding")), outDims, dims),
        s => s.cast("double") / lit(rpDivisor(outDims))).as("rp"))

  /** JL distortion audit over a small deterministic sample: for each
    * pair, the exact unit-space squared L2 gap (2 − 2·cos, an identity
    * on unit vectors), the projected-space squared L2 gap, and their
    * ratio — the number the JL lemma bounds near 1. The sample side is
    * tiny and broadcast; nothing pairwise ever touches the full
    * corpus. */
  def rpDistortion(embeddings: DataFrame, sampleIds: Seq[Long],
      outDims: Int = 16, dims: Int = 64): DataFrame = {
    val s = embeddings.filter(col("vec_id").isin(sampleIds: _*))
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
      .withColumn("rp", transform(rpScaled(col("unit"), outDims, dims),
        x => x.cast("double") / lit(rpDivisor(outDims))))
    val pairs = s.as("a").join(broadcast(s.as("b")),
      col("a.vec_id") < col("b.vec_id"))
    val d2o = round(lit(2.0) - lit(2.0) *
      dotExact(col("a.unit"), col("b.unit")), 6)
    val d2p = round(aggregate(
      zip_with(col("a.rp"), col("b.rp"),
        (x, y) => floor((x - y) * (x - y) * lit(1e12))),
      lit(0L), (acc, x) => acc + x).cast("double") / lit(1e12), 6)
    pairs.select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        d2o.as("d2_orig"), d2p.as("d2_proj"))
      .withColumn("ratio", when(col("d2_orig") === 0.0, lit(null))
        .otherwise(round(col("d2_proj") / col("d2_orig"), 6)))
  }

  /** Recall@k of brute-force search in the PROJECTED space against
    * exact full-dimension ground truth, at each compression level in
    * `outDimsList` — the dial that prices the `outDims/64`
    * compression: rank the corpus by projected dot product (the JL
    * estimate of cosine), compare the top-k sets. ONE corpus scan
    * carries every projection level (the plane sets nest: the 16-d
    * projection is the first 16 planes of the 32-d one), one broadcast
    * query relation feeds every ranker. */
  def rpRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
      outDimsList: Seq[Int] = Seq(16, 32), dims: Int = 64): DataFrame = {
    def rpCol(n: Int): Column =
      transform(rpScaled(col("unit"), n, dims),
        x => x.cast("double") / lit(rpDivisor(n)))
    val base = embeddings.select(col("vec_id") +:
        normalized(col("embedding")).as("unit") +:
        outDimsList.map(n => rpCol(n).as(s"rp$n")): _*)
      .cache()
    val q = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id") +: col("unit").as("qunit") +:
        outDimsList.map(n => col(s"rp$n").as(s"qrp$n")): _*)
    def top(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("query_id", "vec_id")
    }
    val joined = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
    val exact = top(joined.select(col("query_id"), col("vec_id"),
      round(dotExact(col("unit"), col("qunit")), 6).as("score")))
    val recall = outDimsList.foldLeft(exact) { (acc, n) =>
      val approx = top(joined.select(col("query_id"), col("vec_id"),
        round(dotExact(col(s"rp$n"), col(s"qrp$n")), 6).as("score")))
      acc.join(approx.withColumn(s"hit$n", lit(1)),
        Seq("query_id", "vec_id"), "left")
    }
      .groupBy("query_id")
      .agg(count(lit(1)).as("kk"), outDimsList.map(n =>
        sum(coalesce(col(s"hit$n"), lit(0))).cast("long")
          .as(s"hits$n")): _*)
      .select(col("query_id") +: outDimsList.map(n =>
        round(col(s"hits$n").cast("double") / col("kk"), 6)
          .as(s"rp${n}_recall")): _*)
    eagerRelease(recall, Seq(base))
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011): subspace codebooks + ADC
  // --------------------------------------------------------------------

  /** PQ codebooks: the embedding space splits into `m` contiguous
    * subspaces of dims/m dimensions; each gets its own codebook with
    * one codeword per label (label seeding — the same deterministic
    * move as [[ivfCentroids]]; real deployments run k-means per
    * subspace, but the encode/ADC machinery is identical and a
    * deterministic quantizer lets the DuckDB oracle re-derive it).
    * Decimal-exact per-dim means. Output: (sub, label,
    * cvec: array<double> of dims/m components). */
  def pqCodebooks(embeddings: DataFrame, m: Int, dims: Int = 64)
      : DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    embeddings
      .select(col("label"),
        posexplode(normalized(col("embedding"))).as(Seq("dim", "v")))
      .withColumn("sub", (col("dim") / dsub).cast("int"))
      .groupBy(col("sub"), col("label"), col("dim"))
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("sub", "label")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cvec"))
  }

  /** Lloyd-refined PQ codebooks — real k-means training on top of the
    * label-seeded init: each of `iters` rounds assigns every subvector
    * to its max-dot codeword (the scaled-long argmax kernel, ties to
    * the smallest label — max-dot keeps training consistent with the
    * ADC retrieval metric) and recomputes each codeword as the
    * decimal-exact mean of its assigned subvectors; a codeword that
    * attracts nothing keeps its previous position. Every step is
    * deterministic — seeded init, tie-broken assignment,
    * order-independent decimal means — so the DuckDB oracle replays
    * the identical iterations. Cost: one corpus pass per round (the
    * codes are derived inline from the subvector relation, so the
    * re-mean needs no corpus self-join — explode, aggregate, done). */
  def pqCodebooksRefined(embeddings: DataFrame, m: Int, iters: Int,
      dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val dsub = dims / m
    // the subvector relation is read once per round (the seed books
    // come from pqCodebooks' own pass) — cache it only when a second
    // round will re-read it; at iters=1 the materialization is pure
    // cost
    val svecsBase = embeddings
      .select(col("vec_id"),
        posexplode(normalized(col("embedding"))).as(Seq("dim", "v")))
      .withColumn("sub", (col("dim") / dsub).cast("int"))
      .groupBy("vec_id", "sub")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("v")))),
        s => s("v")).as("svec"))
    val svecs = if (iters > 1) svecsBase.cache() else svecsBase
    // r21 barrier cut (same move as ivfCentroidsRefined): the books
    // are m × ksub rows — they live on the driver between rounds, each
    // round is ONE distributed job (argmax assignment against
    // per-subspace literal books + the decimal-exact re-mean), and the
    // hold-position rule is a driver map instead of a broadcast join +
    // cache + count chain (3 barriers a round).
    val seed = pqCodebooks(embeddings, m, dims)
    val schema = seed.schema
    var cb: Array[(Int, Int, Array[Double])] = seed.collect().map { r =>
      (intAt(r, 0), intAt(r, 1), r.getSeq[Double](2).toArray)
    }
    for (_ <- 1 to iters) {
      val bySub = cb.groupBy(_._1)
      val cbsL = array((0 until m).map { s =>
        centsLit(bySub(s).map(t => (t._2, t._3)).toIndexedSeq) }: _*)
      val coded = svecs.select(col("sub"),
        ColumnBridge.column(CellArgmaxExpr(
          ColumnBridge.expression(col("svec")),
          ColumnBridge.expression(element_at(cbsL, col("sub") + 1))))
          .as("code"),
        col("svec"))
      val newMap = coded
        .select(col("sub"), col("code"),
          posexplode(col("svec")).as(Seq("sd", "v")))
        .groupBy("sub", "code", "sd")
        .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy("sub", "code")
        .agg(transform(sort_array(collect_list(struct(col("sd"), col("c")))),
          s => s("c")).as("ncvec"))
        .collect()
        .map(r => (intAt(r, 0), intAt(r, 1)) -> r.getSeq[Double](2).toArray)
        .toMap
      cb = cb.map { case (s, l, v) => (s, l, newMap.getOrElse((s, l), v)) }
    }
    if (iters > 1) { svecs.unpersist(); () }
    val spark = embeddings.sparkSession
    spark.createDataFrame(java.util.Arrays.asList(
      cb.sortBy(t => (t._1, t._2)).map { case (s, l, v) =>
        org.apache.spark.sql.Row(boxLabel(s, schema("sub").dataType),
          boxLabel(l, schema("label").dataType), v.toSeq) }: _*), schema)
  }

  /** PQ encode: each corpus vector becomes `m` small codes — the
    * nearest codeword per subspace by scaled inner product (ties to the
    * smallest label; [[CellArgmaxExpr]] per subspace, the same codegen'd
    * kernel as IVF assignment). The codebook relation is tiny (m × ksub
    * rows) and collapses to ONE broadcast row, so encoding is a pure
    * narrow map over the corpus. This is the memory move that makes
    * 100 TB ANN tractable: 64 float dims (256 B) become m=8 codes
    * (8 B) — a 32× smaller index that fits in RAM. */
  def pqEncode(embeddings: DataFrame, codebooks: DataFrame, m: Int,
      dims: Int = 64): DataFrame =
    encodeUnits(embeddings.select(col("vec_id"),
      normalized(col("embedding")).as("unit")), codebooks, m, dims)

  /** Collect a (sub, label, cvec) codebook relation to driver rows —
    * free when the books are already a local relation (the refined
    * trainers return one), a single tiny job otherwise. */
  private def collectCb(codebooks: DataFrame): Array[(Int, Int, Array[Double])] =
    codebooks.select(col("sub"), col("label"), col("cvec")).collect()
      .map(r => (intAt(r, 0), intAt(r, 1), r.getSeq[Double](2).toArray))

  /** [[pqEncode]] over an already-normalized (vec_id, unit) relation —
    * shared with [[adcTopK]] so recall paths reuse their one corpus
    * pass. r21: the m × ksub books embed as per-subspace LITERALS (the
    * hyperplane move), so encoding is a join-free narrow map — the
    * former collect_list aggregation + broadcast build cost two
    * scheduler barriers per call. */
  private def encodeUnits(units: DataFrame, codebooks: DataFrame, m: Int,
      dims: Int): DataFrame =
    encodeUnitsRows(units, collectCb(codebooks), m, dims)

  private def encodeUnitsRows(units: DataFrame,
      cbRows: Array[(Int, Int, Array[Double])], m: Int,
      dims: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val dsub = dims / m
    val bySub = cbRows.groupBy(_._1)
    units.select(col("vec_id"), col("unit"),
      array((0 until m).map { s =>
        ColumnBridge.column(CellArgmaxExpr(
          ColumnBridge.expression(slice(col("unit"), s * dsub + 1, dsub)),
          ColumnBridge.expression(
            centsLit(bySub(s).map(t => (t._2, t._3)).toIndexedSeq))))
      }: _*).as("codes"))
  }

  /** Shared ADC scoring pipeline — encode `units` against `cb`, build
    * each query's LUT of scaled-long subvector dots (broadcast as
    * maps), score every corpus vector by m integer lookups, return the
    * per-query top-k with `adc` and `rk`. ONE implementation so
    * [[pqTopK]] and [[annRecall]]'s PQ ranker cannot drift apart — the
    * arithmetic here is what the DuckDB oracle replays. */
  /** Driver-side ADC lookup tables: for each query, per-subspace maps
    * label → scaled-long dot of the query's subvector against the
    * codeword — the SAME kernel ([[VectorKernels.dotScaled]]) the
    * former distributed crossJoin + map_from_entries chain evaluated,
    * over a |queries| × m × ksub space that never needed two
    * exchanges. A null dot (degenerate qunit) is not stored:
    * element_at on a missing key is null exactly like a stored null. */
  private def lutsFor(qu: Array[Double],
      bySub: Map[Int, Array[(Int, Int, Array[Double])]], m: Int,
      dsub: Int): Seq[Map[Int, Long]] =
    (0 until m).map { s =>
      bySub(s).flatMap { case (_, l, cv) =>
        val d = dotScaledLocal(
          if (qu == null) null
          else qu.slice(s * dsub, s * dsub + dsub), cv)
        if (d == null) None else Some(l -> d.longValue)
      }.toMap
    }

  private def qlutsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("luts", ArrayType(MapType(IntegerType, LongType)),
        nullable = true)))
  }

  private def adcTopK(units: DataFrame, q: DataFrame, cb: DataFrame,
      k: Int, m: Int, dims: Int): DataFrame =
    adcTopKRows(units, collectVecs(q), collectCb(cb), k, m, dims)

  /** [[adcTopK]] over ALREADY-collected query/codebook rows — r22:
    * [[annRecall]] collects the bounded query and centroid relations
    * exactly once and threads the rows through every ranker; the
    * per-ranker collects were one scheduler barrier each (and a full
    * corpus pass each at scale when the input wasn't cached). */
  private def adcTopKRows(units: DataFrame,
      qRows: Array[(Long, Array[Double])],
      cbRows: Array[(Int, Int, Array[Double])],
      k: Int, m: Int, dims: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    val spark = units.sparkSession
    // r21: books + query units are bounded — collected once; the LUTs
    // are driver algebra and ride back as ONE local broadcast relation
    // (the former LUT chain paid 2 exchanges + 2 broadcast builds per
    // call). The corpus-side encode/score pass is unchanged and narrow.
    val bySub = cbRows.groupBy(_._1)
    val enc = encodeUnitsRows(units, cbRows, m, dims)
    val qluts = spark.createDataFrame(java.util.Arrays.asList(
      qRows.map { case (qid, qu) =>
        org.apache.spark.sql.Row(qid, lutsFor(qu, bySub, m, dsub))
      }.toIndexedSeq: _*), qlutsSchema)
    val scored = enc.join(broadcast(qluts),
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(aggregate(
            zip_with(col("codes"), col("luts"),
              (c, mp) => element_at(mp, c)),
            lit(0L), (acc, x) => acc + x).cast("double") / lit(1e16), 6)
          .as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** PQ ANN top-k via asymmetric distance computation (ADC): queries
    * stay full-precision; each query precomputes a lookup table of its
    * subvector dot against every codeword (m × ksub scaled longs —
    * tiny, broadcast as maps), then every corpus vector is scored by
    * summing m integer table lookups over its codes. The d-multiply
    * cosine collapses to m lookups against an m-byte code: one narrow
    * scan of the encoded corpus, and the only exchange is the final
    * per-query top-k window (the same shape as [[bruteForceTopK]]).
    * Scores are the scaled-long sums the oracle reproduces exactly. */
  def pqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, dims: Int = 64): DataFrame = {
    val (result, pinned) = pqTopKPlan(embeddings, queryIds, k, m, dims)
    eagerRelease(result, pinned)
  }

  private[graft] def pqTopKPlan(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, m: Int = 8, dims: Int = 64): (DataFrame, Seq[DataFrame]) = {
    // r21: no cache — adcTopK collects the tiny books exactly once
    val cb = pqCodebooks(embeddings, m, dims)
    val units = embeddings.select(col("vec_id"),
      normalized(col("embedding")).as("unit"))
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        normalized(col("embedding")).as("qunit"))
    (adcTopK(units, q, cb, k, m, dims), Seq.empty)
  }

  /** Two-stage PQ retrieval — the production ANN pattern at scale:
    * stage 1 shortlists `shortlist` candidates per query by ADC (m
    * integer lookups per corpus vector, the cheap pass over 100 TB);
    * stage 2 re-ranks ONLY the shortlist by exact cosine against the
    * full-precision vectors (a lookup join on shortlist×queries rows —
    * thousands, not billions). Recovers exact-ordering quality wherever
    * the true neighbors survive the shortlist, at the scan cost of the
    * compressed index. */
  def pqTopKReranked(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      shortlist: Int, m: Int = 8, dims: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val units = embeddings.select(col("vec_id"),
      normalized(col("embedding")).as("unit"))
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        normalized(col("embedding")).as("qunit"))
    val cand = pqTopK(embeddings, queryIds, shortlist, m, dims)
      .select(col("query_id"), col("vec_id"), col("adc"))
    val exact = cand
      .join(broadcast(q), "query_id").join(units, "vec_id")
      .select(col("query_id"), col("vec_id"), col("adc"),
        round(dotExact(col("qunit"), col("unit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  // --------------------------------------------------------------------
  // IVF×PQ — IVFADC (Jégou et al. 2011 §IV): coarse cells + residual PQ
  // --------------------------------------------------------------------

  private def argminL2(svec: Column, cents: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(CellArgminL2Expr(ColumnBridge.expression(svec),
      ColumnBridge.expression(cents)))
  }

  /** Residual relation for IVFADC: unit − centroid[cell], per assigned
    * vector. The centroid table is tiny → broadcast; the residual is a
    * narrow elementwise map over the corpus. */
  private[pipeline] def ivfResiduals(assigned: DataFrame,
      cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), assigned("cell") === cents("label"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("unit"), col("cvec"), (x, c) => x - c).as("rvec"))

  /** Lloyd-refined RESIDUAL codebooks (the PQ stage of IVFADC): seeds
    * are the residual subvectors of the `ksub` smallest vec_ids —
    * data-point seeding, because any group-MEAN seed collapses to ~0
    * (residuals average to zero within a cell) and degenerates the
    * quantizer. Then `iters` Lloyd rounds: min-scaled-L2 assignment
    * ([[CellArgminL2Expr]] — the quantization objective that bounds
    * |q·x − q·x̂| on non-unit residuals, where max-dot would chase
    * large-norm codewords), decimal-exact re-means, empty codewords
    * hold position. Deterministic end to end — the DuckDB oracle
    * replays seeding, assignment, and re-mean exactly. */
  def ivfPqResidualCodebooks(resid: DataFrame, m: Int, ksub: Int,
      iters: Int, dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    // narrow subvector explode (slice, not posexplode+groupBy: no
    // shuffle to build the per-(vec, sub) relation)
    // one full read per round plus the id-pruned seed scan — as with
    // the other Lloyd trainers, caching pays only from round two on
    val rsvBase = resid.select(col("vec_id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("sub"),
          slice(col("rvec"), s * dsub + 1, dsub).as("svec"))
      }: _*)).as("sc"))
      .select(col("vec_id"), col("sc.sub").as("sub"), col("sc.svec").as("svec"))
    val rsv = if (iters > 1) rsvBase.cache() else rsvBase
    // r21 barrier cut (the ivfCentroidsRefined move): books live on the
    // driver between rounds; seeding is one bounded collect, each Lloyd
    // round ONE distributed job (argminL2 against per-subspace literal
    // books + decimal-exact re-mean), hold-position a driver map — the
    // former per-round broadcast/cache/count chain was 3 barriers.
    val seedDf = rsv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("label"),
        col("svec").as("cvec"))
    val schema = seedDf.schema
    var cb: Array[(Int, Int, Array[Double])] = seedDf.collect().map { r =>
      (intAt(r, 0), intAt(r, 1),
        if (r.isNullAt(2)) null else r.getSeq[Double](2).toArray)
    }
    for (_ <- 1 to iters) {
      val bySub = cb.groupBy(_._1)
      val cbsL = array((0 until m).map { s =>
        centsLit(bySub(s).map(t => (t._2, t._3)).toIndexedSeq) }: _*)
      val coded = rsv.select(col("sub"),
        argminL2(col("svec"), element_at(cbsL, col("sub") + 1)).as("code"),
        col("svec"))
      val newMap = coded
        .select(col("sub"), col("code"), posexplode(col("svec")).as(Seq("sd", "v")))
        .groupBy("sub", "code", "sd")
        .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy("sub", "code")
        .agg(transform(sort_array(collect_list(struct(col("sd"), col("c")))),
          s => s("c")).as("ncvec"))
        .collect()
        .map(r => (intAt(r, 0), intAt(r, 1)) -> r.getSeq[Double](2).toArray)
        .toMap
      cb = cb.map { case (s, l, v) => (s, l, newMap.getOrElse((s, l), v)) }
    }
    if (iters > 1) { rsv.unpersist(); () }
    val spark = resid.sparkSession
    spark.createDataFrame(java.util.Arrays.asList(
      cb.sortBy(t => (t._1, t._2)).map { case (s, l, v) =>
        org.apache.spark.sql.Row(s, l, if (v == null) null else v.toSeq)
      }: _*), schema)
  }

  /** Shared IVF×PQ scoring pipeline over an assigned corpus: residual
    * codebooks → narrow residual encode (m codes per vector, broadcast
    * codebooks) → per-query cell probes + LUTs → ADC restricted to
    * probed cells: score(q, x) = q·c_cell + Σ_s LUT[q][s][code_s],
    * every term a scaled long the oracle reproduces. ONE implementation
    * feeds [[ivfPqTopK]] and [[annRecall]]'s ivfpq column. */
  private def ivfPqRanked(assigned: DataFrame, cents: DataFrame,
      q: DataFrame, k: Int, nprobe: Int, m: Int, ksub: Int, iters: Int,
      dims: Int): DataFrame =
    // r21 barrier cut: centroids and query units are bounded — collect
    // them once; probes + LUTs become driver algebra (through the same
    // [[VectorKernels]] the distributed chains evaluated) and ride back
    // as ONE local relation broadcast into the ADC join. Before, this
    // pipeline paid a window + 2 exchanges for probes, 2 exchanges +
    // 3 broadcast builds for LUTs — ~7 scheduler barriers per call.
    // Corpus passes (residual map, encode, score) stay distributed.
    ivfPqRankedRows(assigned,
      cents.select(col("label"), col("cvec")).collect()
        .map(r => (intAt(r, 0), r.getSeq[Double](1).toArray)),
      collectVecs(q), k, nprobe, m, ksub, iters, dims)

  /** [[ivfPqRanked]] over ALREADY-collected centroid/query rows — r22:
    * callers that hold the bounded rows already ([[annRecall]]) skip
    * the per-ranker collect barriers. */
  private def ivfPqRankedRows(assigned: DataFrame,
      centRows: Array[(Int, Array[Double])],
      qRows: Array[(Long, Array[Double])], k: Int, nprobe: Int, m: Int,
      ksub: Int, iters: Int, dims: Int): DataFrame = {
    val dsub = dims / m
    val spark = assigned.sparkSession
    // residuals as a literal-map lookup instead of a broadcast join:
    // every cell comes from the argmax over these very centroids, so
    // the inner join matched exactly one row — the isNotNull filter
    // mirrors its null-cell drop
    val centMapL = map(centRows.sortBy(_._1).flatMap { case (l, v) =>
      Seq(lit(l), lit(v)) }.toIndexedSeq: _*)
    val resid = assigned.filter(col("cell").isNotNull)
      .select(col("vec_id"), col("cell"),
        zip_with(col("unit"), element_at(centMapL, col("cell")),
          (x, c) => x - c).as("rvec"))
    val cb = ivfPqResidualCodebooks(resid, m, ksub, iters, dims)
    val cbRows = collectCb(cb) // free: the trainer returns a local relation
    val bySub = cbRows.groupBy(_._1)
    // encode = pure narrow map with per-subspace literal books
    val enc = resid.select(col("vec_id"), col("cell"),
      array((0 until m).map { s =>
        argminL2(slice(col("rvec"), s * dsub + 1, dsub),
          centsLit(bySub(s).map(t => (t._2, t._3)).toIndexedSeq))
      }: _*).as("codes"))
    // probes (keeping the scaled-long q·c_cell — the first ADC term)
    // and LUTs, driver-side; one row per (query, probed cell)
    val lutByQ: Map[Long, Seq[Map[Int, Long]]] = qRows.map { case (qid, qu) =>
      qid -> lutsFor(qu, bySub, m, dsub)
    }.toMap
    val pqSchema = {
      import org.apache.spark.sql.types._
      StructType(probesSchema(withScore = true)
        .fields.filterNot(_.name == "qunit") :+
        StructField("luts", ArrayType(MapType(IntegerType, LongType)),
          nullable = true))
    }
    val pqSide = spark.createDataFrame(java.util.Arrays.asList(
      probeRows(qRows, centRows, nprobe).map { case (qid, _, cell, score) =>
        org.apache.spark.sql.Row(qid, cell, score, lutByQ(qid))
      }.toIndexedSeq: _*), pqSchema)
    val scored = enc.join(broadcast(pqSide),
        enc("cell") === pqSide("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round((col("cell_score") + aggregate(
            zip_with(col("codes"), col("luts"), (c, mp) => element_at(mp, c)),
            lit(0L), (acc, x) => acc + x)).cast("double") / lit(1e16), 6)
          .as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF×PQ ANN top-k — the billion-scale composition (IVFADC): coarse
    * cells prune the corpus to `nprobe`/C of its cells, PQ codes of the
    * RESIDUAL vector compress what remains 32×, and ADC scores probed
    * cells only: score = q·c_cell + Σ_s q_s·codeword_s[code]. Against
    * [[pqTopK]] (which ADC-scans the WHOLE corpus) this scores a
    * fraction of the rows; against [[ivfTopK]] it replaces exact
    * full-precision cosine inside cells with m integer lookups — the
    * combined move that makes a RAM-resident 100 TB index answer
    * queries without touching the raw vectors. Deterministic:
    * label-seeded cells, data-point-seeded Lloyd-refined residual
    * codebooks, scaled-long everything.
    *
    * Query-batch bound: the per-query LUT relation broadcast to the
    * ADC join carries |queries| × nprobe rows of m maps × ksub long
    * entries ≈ |queries| · nprobe · m · ksub · 16 B (defaults: ~6 MB
    * at 1 000 queries — PlanSpec's 1K-query probe pins that it still
    * broadcasts). It grows linearly in the batch, so this entry point
    * AUTO-SPLITS batches above [[MaxLutQueryBatch]] into chunks and
    * unions the (k-row-per-query) results — the corpus-side plan is
    * identical per chunk and the encoded corpus is never rescanned
    * more cheaply by a bigger batch. */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 3, m: Int = 8, ksub: Int = 16, iters: Int = 1,
      dims: Int = 64, ivfIters: Int = 0): DataFrame = {
    if (queryIds.size > MaxLutQueryBatch) {
      // auto-split: each chunk's LUT broadcast stays bounded; results
      // (k rows per query) union. The deterministic training passes
      // repeat per chunk — a caller issuing many over-bound batches
      // should persist the encoded index side instead.
      queryIds.grouped(MaxLutQueryBatch)
        .map(chunk => ivfPqTopK(embeddings, chunk.toSeq, k, nprobe, m,
          ksub, iters, dims, ivfIters))
        .reduce(_ union _)
    } else {
      val (result, pinned) = ivfPqTopKPlan(embeddings, queryIds, k, nprobe,
        m, ksub, iters, dims, ivfIters)
      eagerRelease(result, pinned)
    }
  }

  /** Largest query batch whose LUT broadcast stays comfortably inside
    * a 10 MB-class broadcast budget at the default (nprobe=3, m=8,
    * ksub=16) shape — see [[ivfPqTopK]]'s query-batch bound. */
  val MaxLutQueryBatch = 10000

  private[graft] def ivfPqTopKPlan(embeddings: DataFrame,
      queryIds: Seq[Long], k: Int, nprobe: Int = 3, m: Int = 8,
      ksub: Int = 16, iters: Int = 1, dims: Int = 64,
      ivfIters: Int = 0): (DataFrame, Seq[DataFrame]) = {
    require(queryIds.size <= MaxLutQueryBatch,
      s"query batch ${queryIds.size} exceeds MaxLutQueryBatch=" +
        s"$MaxLutQueryBatch — the LUT broadcast grows linearly in the " +
        "batch; chunk via ivfPqTopK (auto-splits) or split yourself")
    // ivfIters > 0 trains the coarse quantizer with real Lloyd rounds
    // ([[ivfCentroidsRefined]]) before the residual stage; the default
    // keeps the label-seeded quantizer the oracle replays.
    // r21: the quantizer is collected to a local relation (toLocal —
    // refined training already returns one), so every downstream
    // consumer reads it barrier-free instead of through a cache entry
    val cents = if (ivfIters == 0) toLocal(ivfCentroids(embeddings))
      else ivfCentroidsRefined(embeddings, ivfIters)
    val assigned = ivfAssign(embeddings, cents).cache()
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("unit").as("qunit"))
    (ivfPqRanked(assigned, cents, q, k, nprobe, m, ksub, iters, dims),
      Seq(assigned))
  }

  /** Two-stage IVFADC retrieval — [[pqTopKReranked]]'s shape on the
    * composed index: stage 1 shortlists per query by cell-restricted
    * residual ADC ([[ivfPqTopK]] — the pass that never touches raw
    * vectors), stage 2 re-ranks ONLY the shortlist by exact cosine.
    * The production billion-scale pattern end to end: coarse pruning ×
    * 32× code compression for the scan, full precision only for the
    * final handful of rows. */
  def ivfPqTopKReranked(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      shortlist: Int, nprobe: Int = 3, m: Int = 8, ksub: Int = 16,
      iters: Int = 1, dims: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val units = embeddings.select(col("vec_id"),
      normalized(col("embedding")).as("unit"))
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        normalized(col("embedding")).as("qunit"))
    val cand = ivfPqTopK(embeddings, queryIds, shortlist, nprobe, m, ksub,
        iters, dims)
      .select(col("query_id"), col("vec_id"), col("adc"))
    val exact = cand
      .join(broadcast(q), "query_id").join(units, "vec_id")
      .select(col("query_id"), col("vec_id"), col("adc"),
        round(dotExact(col("qunit"), col("unit")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Corpus-level embedding stats — norms and per-label centroids
    * (IVF coarse quantizer seed; centroid = mean of unit vectors).
    * Decimal-exact sums at every reduction so the result is independent
    * of partition merge order. */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("label"), normalized(col("embedding")).as("unit"))
    val dims = e.select(col("label"), posexplode(col("unit")).as(Seq("dim", "v")))
    dims.groupBy("label", "dim")
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))
      .groupBy("label")
      .agg(round(sqrt(sum((col("c") * col("c")).cast(DecimalType(38, 18)))
        .cast("double")), 4).as("centroid_norm"),
        count(lit(1)).as("dims"))
  }
}
