package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The email/alert message formatter (reference
  * src/riemann/common.clj:246-295 `human-uniq`/`subject`/`body`,
  * consumed by src/riemann/email.clj:5-18 `email-event`): subject lines
  * summarize a batch's distinct hosts/services/states, bodies render
  * one block per event. Everything is a pure codegen'd column so the
  * formatting runs distributed and is reproducible in the DuckDB
  * oracle; only the final per-batch join happens on the driver (an
  * email is one driver-side send, exactly like the reference's
  * postal call).
  *
  * Divergences (documented): the reference's `distinct` keeps
  * first-appearance order of the *arrival* stream — here first
  * appearance is in (time_s, event_id) order, the deterministic
  * distributed reading; custom attributes render in sorted-key order
  * (Clojure small-map order is insertion order); and nulls are dropped
  * BEFORE the distinct count, where the reference's human-uniq counts
  * nil as a distinct element — hosts [nil, "a"] render " and a"
  * (count 2) upstream but "a" (count 1) here. Dropping nulls is the
  * deliberate choice: a nil host contributes nothing readable to a
  * subject line.
  */
object Email {

  /** `human-uniq` (common.clj:246-261) over an already-distinct,
    * null-free, first-appearance-ordered array:
    * 0 → null, 1 → the thing, 2 → "a and b", 3-4 → "a, b, c",
    * more → "N things". */
  def humanUniq(d: Column, typ: String): Column =
    when(size(d) === 0, lit(null).cast("string"))
      .when(size(d) === 1, element_at(d, 1))
      .when(size(d) === 2,
        concat(element_at(d, 1), lit(" and "), element_at(d, 2)))
      .when(size(d) <= 4, array_join(d, ", "))
      .otherwise(concat(size(d).cast("string"), lit(" "), lit(typ)))

  /** Distinct non-null values of `field` in first-appearance
    * (time_s, event_id) order — an aggregate expression
    * (array_distinct keeps the first occurrence's position). */
  private def firstAppearance(field: String): Column = expr(
    s"filter(array_distinct(transform(sort_array(collect_list(" +
      s"struct(time_s, event_id, $field))), x -> x.$field)), " +
      "x -> x is not null)")

  /** `subject` (common.clj:262-268): "hosts services states" with each
    * part human-uniq'd and nil parts dropped. Aggregate: use under
    * `df.groupBy(...).agg(subjectAgg.as("subject"))`. */
  def subjectAgg: Column = concat_ws(" ",
    humanUniq(firstAppearance("host"), "hosts"),
    humanUniq(firstAppearance("service"), "services"),
    humanUniq(firstAppearance("state"), "states"))

  /** Per-group subject relation: (groupKeys..., subject). */
  def subject(df: DataFrame, groupKeys: Seq[String]): DataFrame =
    if (groupKeys.isEmpty) df.agg(subjectAgg.as("subject"))
    else df.groupBy(groupKeys.map(col): _*).agg(subjectAgg.as("subject"))

  /** One event's body block (common.clj:276-295): time line,
    * host/service/state/metric line, tags, custom attributes,
    * description. Nil fields render as "" (Clojure `str` semantics);
    * the timestamp renders like java.util.Date#toString in a UTC
    * session ("Tue Jan 30 12:48:10 UTC 2024"). */
  def bodyBlock(hasDescription: Boolean = false): Column = {
    val attrs = when(col("attributes").isNull, lit("")).otherwise(
      concat(lit("{"), expr(
        "array_join(transform(sort_array(map_entries(attributes)), " +
          "e -> concat(':', e.key, ' \"', e.value, '\"')), ', ')"),
        lit("}")))
    concat(
      lit("At "), date_format(timestamp_seconds(col("time_s")),
        "EEE MMM dd HH:mm:ss 'UTC' yyyy"), lit("\n"),
      coalesce(col("host"), lit("")), lit(" "),
      coalesce(col("service"), lit("")), lit(" "),
      coalesce(col("state"), lit("")), lit(" ("),
      coalesce(col("metric").cast("string"), lit("")), lit(")\n"),
      lit("Tags: ["),
      array_join(coalesce(col("tags"), array().cast("array<string>")), ", "),
      lit("]\n"),
      lit("Custom Attributes: "), attrs, lit("\n\n"),
      if (hasDescription) coalesce(col("description"), lit(""))
      else lit(""))
  }

  /** `body` (common.clj:276-295): the blocks of a batch joined by
    * "\n\n\n" in (time_s, event_id) order — aggregate form over a
    * `_block` column produced by [[bodyBlock]]. */
  def bodyAgg: Column = array_join(expr(
    "transform(sort_array(collect_list(struct(time_s, event_id, _block))), " +
      "x -> x._block)"), "\n\n\n")

  /** The mailer sink (email.clj:20-67 `mailer`/`email-event`): each
    * batch becomes ONE email — subject + body formatted distributed,
    * collected as two strings, handed to the injected transport (the
    * reference's postal send). Alert batches arrive pre-bounded by
    * rollup/throttle upstream, which is what makes the one-row collect
    * safe — the reference has the same contract (one SMTP message). */
  class EmailSink(send: (String, String) => Unit,
      hasDescription: Boolean = false) extends Sinks.EventSink {
    override def write(batch: DataFrame, batchId: Long): Unit = {
      val row = batch
        .withColumn("_block", bodyBlock(hasDescription))
        .agg(subjectAgg.as("subject"), bodyAgg.as("body"))
        .collect().head
      val (subj, body) = (Option(row.getString(0)).getOrElse(""),
        Option(row.getString(1)).getOrElse(""))
      if (subj.nonEmpty || body.nonEmpty) send(subj, body)
    }
  }

  /** UTF-8-safe string budgeting (common.clj:297-322
    * count-string-bytes/truncate/truncate-bytes): payload-limited sinks
    * cut strings to a byte budget without splitting a character.
    * Char-by-char like the reference (UTF-16 units — a lone surrogate
    * counts as its replacement byte, matching Clojure's reduce).
    * Consequence, reproduced bug-for-bug: an astral char (surrogate
    * pair, 4 UTF-8 bytes) is budgeted as 2 bytes, so emoji-heavy
    * strings can exceed the nominal byte budget — EmailSpec pins the
    * exact behavior. */
  object Text {
    def countStringBytes(s: String): Int = s.getBytes("UTF-8").length

    def truncate(s: String, n: Int): String =
      if (n <= 0) "" else if (s.length > n) s.substring(0, n) else s

    /** Longest prefix of `s` that fits in `n` UTF-8 bytes. */
    def truncateBytes(s: String, n: Int): String = {
      var sum = 0
      var i = 0
      for (c <- s) if (sum <= n) { sum += countStringBytes(c.toString); i += 1 }
      truncate(s, if (sum > n) i - 1 else i)
    }
  }

  /** SNS publisher shape (reference src/riemann/sns.clj:19-41): the
    * standard subject/body formatting with SNS's byte budgets —
    * subject ≤ 100 UTF-8 bytes, body ≤ 8092 — applied via
    * [[Text.truncateBytes]]; the AWS client is injected as
    * `(arn, subject, body) => Unit`. */
  def sns(arn: String, publish: (String, String, String) => Unit,
      hasDescription: Boolean = false): Sinks.EventSink =
    new EmailSink((subj, body) =>
      publish(arn, Text.truncateBytes(subj, 100),
        Text.truncateBytes(body, 8092)), hasDescription)
}
