package graft

import org.apache.spark.sql.functions._

import graft.sinks.Email

/** Golden cases for the email formatter (reference common.clj:246-295
  * human-uniq/subject/body, email_test.clj override-formatting-test's
  * default-formatter contract). */
class EmailSpec extends SparkSpec {

  test("subject: human-uniq branches — one, two, 3-4, many, missing (common.clj:246-268)") {
    def subjectOf(df: org.apache.spark.sql.DataFrame): String =
      one[String](Email.subject(df, Seq.empty), "subject")
    // 1 host, 1 service, 1 state
    assert(subjectOf(events(E(id = 1, host = "h1", service = "api",
      state = "ok", time = 0L))) == "h1 api ok")
    // 2 hosts -> "a and b"; states ok+critical -> "ok and critical"
    assert(subjectOf(events(
      E(id = 1, host = "a", service = "api", state = "ok", time = 0L),
      E(id = 2, host = "b", service = "api", state = "critical", time = 1L)))
      == "a and b api ok and critical")
    // 3 hosts -> comma join
    assert(subjectOf(events(
      E(id = 1, host = "a", service = "api", state = "ok", time = 0L),
      E(id = 2, host = "b", service = "api", state = "ok", time = 1L),
      E(id = 3, host = "c", service = "api", state = "ok", time = 2L)))
      == "a, b, c api ok")
    // 5 hosts -> "5 hosts"; first-appearance order is time order
    assert(subjectOf(events((1 to 5).map(i =>
      E(id = i, host = s"h$i", service = "api", state = "ok",
        time = i.toLong)): _*)) == "5 hosts api ok")
    // all-null state drops that part (keep identity)
    assert(subjectOf(events(E(id = 1, host = "h1", service = "api",
      time = 0L))) == "h1 api")
  }

  test("body block renders the reference layout (common.clj:276-295)") {
    val df = events(E(id = 1, host = "h1", service = "s", state = "ok",
      metric = 3.5, tags = Seq("a", "b"), time = 1706606491L,
      attributes = Map("k" -> "86")))
    val body = one[String](df.select(Email.bodyBlock().as("b")), "b")
    assert(body ==
      "At Tue Jan 30 09:21:31 UTC 2024\n" +
        "h1 s ok (3.5)\n" +
        "Tags: [a, b]\n" +
        "Custom Attributes: {:k \"86\"}\n\n")
    // nil metric/tags/attributes render as empty (Clojure str nil)
    val sparse = events(E(id = 1, host = "h1", service = "s", time = 0L))
    val b2 = one[String](sparse.select(Email.bodyBlock().as("b")), "b")
    assert(b2.contains("h1 s  ()\nTags: []\nCustom Attributes: \n\n"))
  }

  test("EmailSink sends one message per batch: subject + blocks joined by blank lines") {
    val sent = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val sink = new Email.EmailSink((s, b) => sent += ((s, b)))
    sink.write(events(
      E(id = 1, host = "a", service = "api", state = "ok", metric = 1.0,
        time = 0L),
      E(id = 2, host = "b", service = "api", state = "ok", metric = 2.0,
        time = 1L)), 0L)
    assert(sent.size == 1)
    val (subj, body) = sent.head
    assert(subj == "a and b api ok")
    assert(body.split("\n\n\n").length == 2)
    assert(body.startsWith("At Thu Jan 01 00:00:00 UTC 1970\na api ok (1.0)"))
    // empty batch sends nothing
    sink.write(events().limit(0), 1L)
    assert(sent.size == 1)
  }

  test("truncate / truncate-bytes golden tables (common_test.clj)") {
    import Email.Text._
    // truncate counts UTF-16 chars
    assert(truncate("あいう", -1) == "")
    assert(truncate("あいう", 0) == "")
    assert(truncate("あいう", 1) == "あ")
    assert(truncate("あいう", 3) == "あいう")
    assert(truncate("あいう", 4) == "あいう")
    // truncate-bytes fits whole characters into a UTF-8 byte budget
    assert(truncateBytes("あいう", -1) == "")
    assert(truncateBytes("あいう", 0) == "")
    assert(truncateBytes("あいう", 1) == "")
    assert(truncateBytes("あいう", 3) == "あ")
    assert(truncateBytes("あいう", 4) == "あ")
    assert(truncateBytes("あいう", 9) == "あいう")
    assert(truncateBytes("あいう", 10) == "あいう")
    assert(countStringBytes("あいう") == 9)
  }

  test("truncate-bytes property: longest prefix fitting the budget " +
    "(BMP strings); astral chars reproduce the reference's per-UTF-16 " +
    "accounting") {
    import Email.Text._
    // BMP property: result is a prefix, fits the budget in real UTF-8
    // bytes, and is maximal (one more char would exceed)
    val rnd = new scala.util.Random(0xbeef)
    val bmp = "aZ9 é中あ!€".toCharArray
    (1 to 500).foreach { _ =>
      val s = new String((0 until rnd.nextInt(12)).map(_ =>
        bmp(rnd.nextInt(bmp.length))).toArray)
      val n = rnd.nextInt(20)
      val t = truncateBytes(s, n)
      assert(s.startsWith(t), s"not a prefix: '$t' of '$s'")
      assert(countStringBytes(t) <= math.max(0, n),
        s"'$t' exceeds $n bytes")
      if (t.length < s.length)
        assert(countStringBytes(s.substring(0, t.length + 1)) > n,
          s"'$t' not maximal for '$s' at $n")
    }
    // astral divergence, reproduced bug-for-bug (common.clj:297-322
    // reduces per UTF-16 unit; a surrogate counts as its 1-byte
    // replacement): U+1F44D is budgeted as 2 bytes though its UTF-8 is
    // 4, and an odd budget can cut between the surrogates
    val thumb = new String(Character.toChars(0x1F44D))
    assert(truncateBytes(thumb, 2) == thumb)   // 4 real bytes pass as 2
    assert(truncateBytes(thumb, 1) == thumb.substring(0, 1)) // lone hi
    assert(truncateBytes(thumb, 0) == "")
  }

  test("SnsSink applies the 100-byte subject budget (sns.clj:19-26)") {
    val sent = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val sink = Email.sns("arn:x", (a, s, b) => sent += ((a, s, b)))
    // 60 distinct hosts -> subject "60 hosts api ok" (short); a long
    // single-host subject instead: host of 120 chars truncates to 100
    val longHost = "h" * 120
    sink.write(events(E(id = 1, host = longHost, service = "api",
      state = "ok", time = 0L)), 0L)
    assert(sent.size == 1)
    val (arn, subj, _) = sent.head
    assert(arn == "arn:x")
    assert(Email.Text.countStringBytes(subj) <= 100)
    assert(subj.startsWith("h" * 50))
  }
}
