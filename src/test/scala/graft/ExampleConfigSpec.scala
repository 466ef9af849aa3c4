package graft

/** The shipped example config must stay loadable and its own tests
  * green — it is the first thing a new user runs. */
class ExampleConfigSpec extends SparkSpec {
  test("examples/graft.example.json parses and passes its own tests") {
    val path = java.nio.file.Paths.get("examples/graft.example.json")
    val streams = graft.config.ConfigFile.load(path)
    assert(streams.map(s =>
      graft.config.ConfigFile.str(s \ "name", "name")).toSet ==
      Set("index", "graphite-index", "hot-alerts", "fleet-size",
        "p95-latency", "sessions"))
    val (passed, failed) = Main.runTests(path, spark)
    assert(passed == 5 && failed == 0, s"$passed passed, $failed failed")
  }

  test("examples/curation.example.json parses: three streams off ONE " +
    "files-protocol landing zone (natively replayable — no tee) plus " +
    "the batch jobs and the fanout block") {
    val path = java.nio.file.Paths.get("examples/curation.example.json")
    val doc = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(path))
    import org.json4s._
    assert((doc \ "servers" \ "docs" \ "protocol") == JString("files"))
    assert((doc \ "fanout" \ "replayable") == JArray(List(JString("docs"))))
    val streams = graft.config.ConfigFile.load(path)
    assert(streams.map(s =>
      graft.config.ConfigFile.str(s \ "name", "name")) ==
      List("curation-firehose", "decontamination-feed", "neardup-pairs"))
    // all three share the `docs` landing zone; file sources fan out
    // natively (per-query seen-files tracking), so the Loader never
    // tees them in the packaged process
    assert(streams.map(s =>
      graft.config.ConfigFile.str(s \ "source", "source")).toSet ==
      Set("docs"))
    val jobs = graft.config.ConfigFile.loadJobs(path)
    assert(jobs.map(j => graft.config.ConfigFile.str(j \ "name", "name")) ==
      List("train-set", "val-set", "mixture-table"))
  }
}
