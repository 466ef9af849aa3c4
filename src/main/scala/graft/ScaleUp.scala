package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a 10x scale-up of an existing testdata directory (the
  * sf0.1 -> "sf1" headroom probe, r6 verdict item 6): each table is
  * unioned 10 times with its primary/foreign keys shifted consistently
  * per replica, so per-key join fan-out stays constant while total
  * volume, key cardinality, and shuffle width scale 10x — the shape a
  * real 10x scale factor has, not a 10x-denser copy of the same keys.
  *
  * Per-table key handling:
  *   - events: event_id and user_id shift; ts keeps its distribution
  *     (event time doesn't stretch when volume grows).
  *   - documents: doc_id shifts; replicas >0 get a replica marker
  *     appended to `text`, making each document a 10-way NEAR-duplicate
  *     cluster — the adversarial case for minhash/LSH/simhash (exact
  *     dedup stays un-collapsed, near-dup candidate counts scale).
  *   - embeddings: vec_id shifts, vectors unchanged (ANN cost is
  *     corpus x queries; duplicate points don't change the work).
  *   - lineitem/orders/customer/supplier: orderkey/custkey/suppkey
  *     shift consistently on both sides of every join.
  *   - nation/region/part: dimension tables, copied as-is (real TPC-H
  *     scale factors don't grow nation/region either).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [factor] [tables] [skewPct]
  *
  * `factor = docmix` (r17): instead of replicating, synthesize a
  * HEAVY-TAIL document-length corpus — the adversarial case the
  * uniform replication never makes (all its docs stay small). The
  * output `documents` table is the source corpus plus:
  *   - 24 huge varied-vocabulary docs, 1–10 M chars, ~10⁵–10⁶ DISTINCT
  *     word shingles each (the shingle-array / group-payload stress),
  *     generated as 12 near-dup PAIRS sharing ~95% of their words so
  *     the pair family must verify huge×huge candidates, not just
  *     block them;
  *   - 8 boilerplate docs of ~2 M chars with a TINY vocab (long text,
  *     few distinct shingles — the winnow-span / substring-window
  *     stress).
  * events + embeddings copy through unchanged so the bench harness
  * runs. Deterministic: word streams are pure functions of (group,
  * index).
  * `tables` (comma-separated) restricts the synthesis — e.g. the 100x
  * pair-generating-family probe only needs documents/embeddings (and
  * events for the bench warmup), not a 100x lineitem.
  *
  * `skewPct` (r16, default 0): AFTER replication, that percentage of
  * event rows (deterministically, by event_id mod 100) collapses onto
  * user_id 0 — i.e. one host carries skewPct% of the whole corpus.
  * This is the hot-key stress the skew-hardened temporal forms
  * (bucketed as-of, chunked sessionize) exist for: a keys-partitioned
  * window over such a corpus serializes half the data onto one task,
  * while the (key, bucket)-partitioned forms stay bounded by the
  * clock. Only `events` is affected.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    if (args.lift(2).contains("docmix")) { docmix(src, out); return }
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    val skewPct = args.lift(4).map(_.toInt).getOrElse(0)
    require(skewPct >= 0 && skewPct < 100, s"skewPct in [0,100): $skewPct")
    val spark = LocalSession("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def maxOf(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head.getLong(0)

    /** Union `factor` replicas, shifting each key column by
      * replica * span so replicas never collide. A key that is a JOIN
      * key across tables MUST use the same span on every table carrying
      * it (spanOverride) — per-table `max+1` spans silently misalign
      * foreign keys whenever the two sides' maxima differ (e.g. TPC-H's
      * orderless customers), pointing every replica's orders at wrong
      * or missing customers. */
    def replicate(df: DataFrame, keys: Seq[String],
        spanOverride: Map[String, Long] = Map.empty,
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val spans = keys.map(k =>
        k -> spanOverride.getOrElse(k, maxOf(df, k) + 1L)).toMap
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * spans(k))))
        perReplica(shifted, i)
      }.reduce(_ unionAll _)
    }


    def write(name: String, df: => DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scaleup] $name x$factor written")
      }

    def rd(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // shared spans for FK-linked keys: greatest max across all tables
    // carrying the logical key — one agg per table, not one per key
    // (orders and lineitem are the largest inputs; don't scan twice)
    val (orderMax, custFkMax) = {
      val r = rd("orders").agg(max(col("o_orderkey")), max(col("o_custkey"))).head
      (r.getLong(0), r.getLong(1))
    }
    val (lOrderMax, lSuppMax) = {
      val r = rd("lineitem").agg(max(col("l_orderkey")), max(col("l_suppkey"))).head
      (r.getLong(0), r.getLong(1))
    }
    val custSpan = math.max(maxOf(rd("customer"), "c_custkey"), custFkMax) + 1L
    val suppSpan = math.max(maxOf(rd("supplier"), "s_suppkey"), lSuppMax) + 1L
    val orderSpan = math.max(orderMax, lOrderMax) + 1L

    write("events", {
      val r = replicate(rd("events"), Seq("event_id", "user_id"))
      if (skewPct == 0) r
      else r.withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < skewPct, lit(0L))
          .otherwise(col("user_id")))
    })
    write("documents", replicate(rd("documents"), Seq("doc_id"),
      perReplica = (d, i) => if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" replica$i")))
        .withColumn("n_chars", col("n_chars") + lit(s" replica$i".length))))
    write("embeddings", replicate(rd("embeddings"), Seq("vec_id")))
    write("lineitem", replicate(rd("lineitem"), Seq("l_orderkey", "l_suppkey"),
      Map("l_orderkey" -> orderSpan, "l_suppkey" -> suppSpan)))
    write("orders", replicate(rd("orders"), Seq("o_orderkey", "o_custkey"),
      Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)))
    write("customer", replicate(rd("customer"), Seq("c_custkey"),
      Map("c_custkey" -> custSpan)))
    write("supplier", replicate(rd("supplier"), Seq("s_suppkey"),
      Map("s_suppkey" -> suppSpan)))
    Seq("nation", "region", "part").foreach(t => write(t, rd(t)))
    spark.stop()
  }

  /** The heavy-tail document-length corpus (see object doc). Word
    * streams are generated INSIDE Spark (one row per huge doc, the
    * text built by a sequence/transform pipeline), so nothing
    * megabyte-sized ever sits in a driver literal. */
  private def docmix(src: String, out: String): Unit = {
    val spark = LocalSession("spark.sql.legacy.parquet.nanosAsLong" -> "true")
    import spark.implicits._

    val base = spark.read.parquet(s"$src/documents.parquet")
    val maxId = base.agg(max(col("doc_id"))).head.getLong(0)

    // 12 near-dup pairs of huge varied-vocab docs: members a/b of pair
    // g share the first 95% of their word stream ("w<g>x<i>"), then
    // diverge ("t<doc_id>x<i>"). Sizes walk the 1-10M-char tail. A
    // word is ~8-11 chars + space, so words ~= chars / 10.
    val hugeSpecs = (0 until 12).flatMap { g =>
      val words = Seq(100000, 100000, 150000, 200000, 300000, 300000,
        400000, 500000, 600000, 700000, 850000, 1000000)(g)
      Seq(0, 1).map { m =>
        (maxId + 1 + 2L * g + m, g.toLong, words, m.toLong)
      }
    }
    val huge = hugeSpecs
      .toDF("doc_id", "grp", "words", "member")
      .repartition(32, col("doc_id"))
      .select(col("doc_id"),
        concat_ws(" ",
          concat(
            transform(sequence(lit(0),
                expr("cast(words * 95 div 100 - 1 as int)")),
              i => concat(lit("w"), col("grp"), lit("x"), i)),
            transform(sequence(lit(0),
                expr("cast(words * 5 div 100 - 1 as int)")),
              i => concat(lit("t"), col("doc_id"), lit("x"), i))))
          .as("text"),
        lit("en").as("lang"),
        concat(lit("docmix_huge"), col("grp") % 3).as("source"))
      .withColumn("n_chars", length(col("text")))

    // 8 boilerplate docs: ~2M chars, vocab of ~6 words — maximal text
    // length per distinct shingle (winnow spans, substring windows)
    val boiler = (0 until 8).map(b => (maxId + 100L + b, b))
      .toDF("doc_id", "b")
      .repartition(8, col("doc_id"))
      .select(col("doc_id"),
        rtrim(repeat(concat(lit("lorem ipsum dolor sit amet b"),
          col("b"), lit(" ")), 60000)).as("text"),
        lit("en").as("lang"),
        lit("docmix_boiler").as("source"))
      .withColumn("n_chars", length(col("text")))

    base.unionByName(huge).unionByName(boiler)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scaleup] documents docmix written (base + 24 huge + 8 boiler)")
    Seq("events", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t copied")
    }
    spark.stop()
  }
}
