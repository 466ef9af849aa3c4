package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The measurement harness's shared parts: the ×2 ramp `zone` and
  * `ceiling` run, the `profile` counters and plan writer, and the
  * subcommand dispatch. */
class BenchSpec extends SparkSpec {

  test("ramp doubles the rate, stops at the first unsustained rate, " +
    "never passes the maximum, and its summary names the last sustained " +
    "rate") {
    val out = Files.createTempFile("graft-ramp", ".jsonl")
    // sustained up to 400/s; the measured rate is half the offered one
    def run(max: Int): (Seq[(Int, Int)], Seq[String]) = {
      Files.deleteIfExists(out)
      val offered = ArrayBuffer[(Int, Int)]()
      Bench.ramp(out, """"ceiling_family":"fake"""", "max_sustained_eps",
          start = 100, max = max) { (rate, attempt) =>
        offered += rate -> attempt
        (rate <= 400, rate / 2.0, s""""measured":${rate / 2}""")
      }
      (offered.toSeq, Files.readAllLines(out).asScala.toSeq)
    }
    try {
      val (offered, lines) = run(max = 10000)
      assert(offered == Seq(100 -> 0, 200 -> 1, 400 -> 2, 800 -> 3))
      assert(lines == Seq(
        """{"ceiling_family":"fake","rate":100,"measured":50,"sustained":true}""",
        """{"ceiling_family":"fake","rate":200,"measured":100,"sustained":true}""",
        """{"ceiling_family":"fake","rate":400,"measured":200,"sustained":true}""",
        """{"ceiling_family":"fake","rate":800,"measured":400,"sustained":false}""",
        """{"ceiling_family":"fake","max_sustained_rate":400,""" +
          """"max_sustained_eps":200,"first_unsustained_rate":800}"""))
      // the maximum ends the ramp before any rate fails: 400 > 300 is
      // never offered, and no rate is named unsustained
      val (capped, cappedLines) = run(max = 300)
      assert(capped.map(_._1) == Seq(100, 200))
      assert(cappedLines.last ==
        """{"ceiling_family":"fake","max_sustained_rate":200,""" +
          """"max_sustained_eps":100,"first_unsustained_rate":-1}""")
    } finally Files.deleteIfExists(out)
  }

  test("profile counts a query's jobs and tasks and, given a plan " +
    "directory, writes its formatted physical plan") {
    val dir = Files.createTempDirectory("graft-plans")
    val plan = dir.resolve("q_where.txt")
    try {
      val rows = Bench.profile(spark, "/root/testdata/sf0.001",
        Seq("q_where"), Some(dir -> ""))
      assert(rows.map(_.name) == Seq("q_where"))
      val row = rows.head
      assert(row.sec >= 0, s"q_where failed: $row")
      assert(row.jobs >= 1, row)
      assert(row.tasks >= row.jobs, row)
      assert(new String(Files.readAllBytes(plan), "UTF-8")
        .contains("== Physical Plan =="))
    } finally {
      Files.deleteIfExists(plan)
      Files.deleteIfExists(dir)
    }
  }

  test("an unknown subcommand is rejected with a usage message that " +
    "lists the subcommands") {
    val usage = Bench.command(Seq("nope")) match {
      case Left(u) => u
      case Right(_) => fail("an unknown subcommand was accepted")
    }
    Seq("profile", "fanout", "static-cache", "zone", "ceiling", "soak")
      .foreach(c => assert(usage.contains(c), usage))
    assert(Bench.command(Seq("profile", "extra")).isLeft)
    assert(Bench.command(Seq()).isRight)
    assert(Bench.command(Seq("soak")).isRight)
  }
}
