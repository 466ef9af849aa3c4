package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** One row into the substring-dedup step: a gram occurrence
  * (`p >= 1`, `text` null) or the per-document text carrier (`p == 0`,
  * its own key, passed straight through so the downstream per-doc
  * aggregation can rebuild the cleaned text without a stream-stream
  * join — which Spark disallows after an aggregation anyway). */
private[streaming] case class GramRow(h: String, doc_id: Long, p: Int,
    text: String, time: java.sql.Timestamp)

/** A duplicated-span mark (`p >= 1`) or the text carrier (`p == 0`). */
case class SpanMark(doc_id: Long, p: Int, text: String,
    time: java.sql.Timestamp)

/** Streaming exact substring dedup — the incremental form of
  * [[graft.pipeline.Dedup.substringDedup]] (Lee et al. 2021): arriving
  * documents are stripped of ≥ `minLen`-token spans already seen
  * (anywhere in the horizon's corpus, including earlier in the same
  * trigger), the first occurrence keeping its text. Cleaned documents
  * emit when the watermark closes their event-time window. */
object StreamingSubstringDedup {

  /** Keyed by gram hash: the FIRST occurrence inside the horizon is the
    * canonical one (keeps its text, emits nothing); every later
    * occurrence emits a duplicated-span mark. Emission volume is LINEAR
    * in the arriving grams (one mark per non-canonical occurrence — no
    * O(bucket²) pairing, so no saturation kernel needed); state is one
    * (doc, pos, lastSeen) triple per distinct gram inside the horizon,
    * cleared by a quiet-period timer exactly like the bucket step's: a
    * quiet gram is forgotten, and its next occurrence starts a fresh
    * canonical (the batch horizon semantics).
    *
    * Batch-parity caveat (pinned in StreamingSubstringDedupSpec): the
    * batch [[graft.pipeline.Dedup.substringDedup]] picks the GLOBAL
    * minimum (doc, pos) as canonical; the stream picks the first
    * arrival — within one trigger rows sort by (doc, pos) so a batch
    * arriving together agrees exactly, and across triggers
    * first-arrival == min-key whenever doc ids are assigned in arrival
    * order (the common ingest shape). */
  private def step(horizonMs: Long)
      : Step[String, GramRow, (Long, Int, Long), Unit, SpanMark] =
      new Step[String, GramRow, (Long, Int, Long), Unit, SpanMark] {
    def state: (String, Encoder[(Long, Int, Long)]) =
      ("canonical", Encoders.product[(Long, Int, Long)])
    def order: Ordering[GramRow] = Ordering.by(r => (r.doc_id, r.p))

    def rows(key: String, at: Keyed[(Long, Int, Long), Unit],
        rows: Seq[GramRow], wm: Long)
        : (Keyed[(Long, Int, Long), Unit], Seq[SpanMark]) = {
      val out = Vector.newBuilder[SpanMark]
      val next = rows.foldLeft(at) { (at, r) =>
        if (r.p == 0) {
          // text carrier: unique key per doc, stateless pass-through
          out += SpanMark(r.doc_id, 0, r.text, r.time)
          at
        } else {
          val t = r.time.getTime
          val (cd, cp, seen) = at.state.getOrElse((r.doc_id, r.p, t))
          // a replay of the canonical occurrence itself marks nothing
          if (cd != r.doc_id || cp != r.p)
            out += SpanMark(r.doc_id, r.p, null, r.time)
          val lastSeen = math.max(seen, t)
          at.copy(state = Some((cd, cp, lastSeen)),
            deadline = Some(math.max(lastSeen + horizonMs + 1, wm + 1)))
        }
      }
      (next, out.result())
    }

    def timer(key: String, at: Keyed[(Long, Int, Long), Unit],
        wm: Long): (Keyed[(Long, Int, Long), Unit], Seq[SpanMark]) =
      (at.copy(state = None), Nil)
  }

  /** docs (doc_id, text, `eventTimeCol` timestamp) → duplicated-span
    * marks + text carriers. Grams reuse the batch operator's md5 over
    * space-joined token slices, so state keys and batch gram hashes
    * are identical. */
  def marks(docs: DataFrame, eventTimeCol: String, minLen: Int = 8,
      horizonSeconds: Long = 3600L): Dataset[SpanMark] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("text"),
      col(eventTimeCol).as("time"), split(col("text"), " ").as("w"))
    val grams = base.filter(size(col("w")) >= minLen)
      .select(col("doc_id"), col("time"), col("w"),
        explode(sequence(lit(1), size(col("w")) - minLen + 1)).as("p"))
      .select(
        md5(concat_ws(" ", slice(col("w"), col("p"), lit(minLen)))).as("h"),
        col("doc_id"), col("p"), lit(null).cast("string").as("text"),
        col("time"))
    // the carrier key's preimage contains no space, a ≥ minLen-token
    // gram's always does — the key spaces are disjoint
    val carrier = base.select(
      md5(concat(lit("doc:"), col("doc_id").cast("string"))).as("h"),
      col("doc_id"), lit(0).as("p"), col("text"), col("time"))
    KeyedProcessor(grams.union(carrier).as[GramRow],
      s"$horizonSeconds seconds", step(horizonSeconds * 1000L),
      Some("time"))(_.h)
  }

  /** Cleaned documents from the mark stream: per (window, doc) the
    * carrier contributes the text and the marks their positions; the
    * strip-and-rejoin is the BATCH operator's expression, verbatim.
    * Emits (doc_id, n_tokens, n_removed, text_clean) at window close. */
  def cleaned(marks: Dataset[SpanMark], minLen: Int = 8,
      horizonSeconds: Long = 3600L): DataFrame = {
    val L = lit(minLen)
    marks
      .groupBy(window(col("time"), s"$horizonSeconds seconds"),
        col("doc_id"))
      .agg(max(col("text")).as("text"),
        sort_array(collect_list(when(col("p") >= 1, col("p")))).as("qs"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("kept", filter(sequence(lit(1), size(col("w"))),
        i => !exists(col("qs"), q => q <= i && i <= q + L - 1)))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("kept"), i => element_at(col("w"), i)))
          .as("text_clean"))
  }

  /** The end-to-end form: docs in, cleaned docs out. */
  def apply(docs: DataFrame, eventTimeCol: String, minLen: Int = 8,
      horizonSeconds: Long = 3600L): DataFrame =
    cleaned(marks(docs, eventTimeCol, minLen, horizonSeconds),
      minLen, horizonSeconds)
}
