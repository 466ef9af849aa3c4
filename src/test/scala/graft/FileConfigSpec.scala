package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.config.ConfigFile
import graft.streaming.{SEvent, WireEvent}

/** External config-file surface tests (reference
  * src/riemann/config.clj:444-467 include, src/riemann/bin.clj:39-77
  * reload): JSON topology → Core assembly, reload-by-signature, include
  * merging, and the batch semantics of each pipeline op. */
class FileConfigSpec extends SparkSpec {

  private def write(p: Path, s: String): Unit = {
    Files.writeString(p, s); ()
  }

  private def op(json: String): org.json4s.JObject =
    org.json4s.jackson.JsonMethods.parse(json).asInstanceOf[org.json4s.JObject]

  // ------------------------------------------------------------ batch ops

  test("ops compile to the expected Catalyst plans on batch frames") {
    val df = events(
      E(1, state = "critical", metric = 10.0, service = "api"),
      E(2, state = "ok", metric = 2.0, service = "api"),
      E(3, state = "critical", metric = 5.0, service = "db"))

    assert(ids(ConfigFile.applyOp(df,
      op("""{"op":"where","expr":"state = 'critical'"}"""))) == Seq(1, 3))

    // riemann query language, not SQL
    assert(ids(ConfigFile.applyOp(df,
      op("""{"op":"query","q":"service = \"api\" and metric > 5"}"""))) ==
      Seq(1))

    val withed = ConfigFile.applyOp(df,
      op("""{"op":"with","set":{"state":"'ok'","metric":"metric * 2"}}"""))
    assert(withed.filter(col("state") === "ok").count() == 3)
    assert(one[Double](withed.filter(col("event_id") === 1), "metric") == 20.0)

    // default only fills nulls
    val defaulted = ConfigFile.applyOp(
      events(E(1, state = null, metric = 1.0), E(2, state = "warn")),
      op("""{"op":"default","set":{"state":"'ok'"}}"""))
    assert(defaulted.orderBy("event_id").collect()
      .map(_.getAs[String]("state")).toSeq == Seq("ok", "warn"))

    val scaled = ConfigFile.applyOp(df, op("""{"op":"scale","factor":0.5}"""))
    assert(one[Double](scaled.filter(col("event_id") === 1), "metric") == 5.0)

    val selected = ConfigFile.applyOp(df,
      op("""{"op":"select","cols":["host","metric"]}"""))
    assert(selected.columns.toSeq == Seq("host", "metric"))

    // tag family (streams.clj:1284-1330, 1463-1488)
    val tagged = ConfigFile.applyOp(df.withColumn("tags", array(col("service"))),
      op("""{"op":"tag","tags":["prod","api"]}"""))
    assert(one[scala.collection.Seq[String]](
      tagged.filter(col("event_id") === 1), "tags").toSet ==
      Set("api", "prod"))
    val untagged = ConfigFile.applyOp(tagged,
      op("""{"op":"untag","tags":["prod"]}"""))
    assert(!one[scala.collection.Seq[String]](
      untagged.filter(col("event_id") === 1), "tags").contains("prod"))
    assert(ids(ConfigFile.applyOp(tagged,
      op("""{"op":"tagged-all","tags":["prod","db"]}"""))) == Seq(3))
    assert(ids(ConfigFile.applyOp(tagged,
      op("""{"op":"tagged-any","tags":["db","nope"]}"""))) == Seq(3))
    assert(ids(ConfigFile.applyOp(df, op("""{"op":"over","x":4}"""))) ==
      Seq(1, 3))
    assert(ids(ConfigFile.applyOp(df, op("""{"op":"under","x":4}"""))) ==
      Seq(2))
    // tag ops on a TAGLESS frame (a stripped source) must treat tags
    // as empty, never fail analysis
    val bare = ConfigFile.applyOp(df, op("""{"op":"tag","tags":["x"]}"""))
    assert(one[scala.collection.Seq[String]](
      bare.filter(col("event_id") === 1), "tags") == Seq("x"))
    assert(ConfigFile.applyOp(df,
      op("""{"op":"tagged-any","tags":["x"]}""")).count() == 0)
    assert(ConfigFile.applyOp(df,
      op("""{"op":"untag","tags":["x"]}""")).columns.contains("tags"))
  }

  test("throttle op: streaming-stateful n-per-dt through the config surface") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[WireEvent]
    val out = ConfigFile.applyOp(input.toDF(),
      op("""{"op":"throttle","n":2,"dt":60}"""))
    val q = out.writeStream.format("memory").queryName("cfg_throttle")
      .outputMode("append").start()
    try {
      input.addData((1 to 5).map(i =>
        SEvent("h", "s", "ok", Some(i.toDouble),
          new java.sql.Timestamp(1000L * i), None)))
      q.processAllAvailable()
      // all five land in one 60 s bucket; only the first 2 pass
      assert(spark.table("cfg_throttle").count() == 2)
    } finally q.stop()
  }

  test("throttle carries non-SEvent columns (tags) through the typed " +
    "round-trip: tag -> throttle -> tagged-any keeps its events") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[WireEvent]
    val out = Seq(
      op("""{"op":"tag","tags":["alert"]}"""),
      op("""{"op":"throttle","n":2,"dt":60}"""),
      op("""{"op":"tagged-any","tags":["alert"]}"""))
      .foldLeft(input.toDF(): org.apache.spark.sql.DataFrame)(
        ConfigFile.applyOp)
    val q = out.writeStream.format("memory").queryName("cfg_throttle_tags")
      .outputMode("append").start()
    try {
      input.addData((1 to 5).map(i =>
        SEvent("h", "s", "ok", Some(i.toDouble),
          new java.sql.Timestamp(1000L * i), None)))
      q.processAllAvailable()
      val rows = spark.table("cfg_throttle_tags")
      // throttle passes 2; the tags a PRIOR op added survive it, so
      // the downstream tagged-any matches instead of dropping all
      assert(rows.count() == 2)
      assert(rows.select("tags").as[Seq[String]].collect()
        .forall(_ == Seq("alert")))
      // the SEvent payload itself also round-trips
      assert(rows.select("metric").as[Option[Double]].collect().toSet ==
        Set(Some(1.0), Some(2.0)))
    } finally q.stop()
  }

  test("throttle keeps every column as it was: a microsecond timestamp " +
    "and a map<int,string> column a with op added come out unchanged") {
    val spark0 = spark
    import spark0.implicits._
    val events = spark.createDataset((1 to 3).map(i =>
      SEvent("h", "s", "ok", Some(i.toDouble), new Timestamp(1000L * i),
        None))).toDF()
    val withCols = ConfigFile.applyOp(events, op(
      """{"op":"with","set":{"at":"timestamp_micros(1706000000123456)",
        |"codes":"map(1, 'a', 2, 'b')"}}""".stripMargin))
    val out = ConfigFile.applyOp(withCols,
      op("""{"op":"throttle","n":10,"dt":60}"""))
    assert(out.schema == withCols.schema)
    assert(out.collect().toSet == withCols.collect().toSet)
    assert(out.select("at").as[Timestamp].collect()
      .forall(_.getNanos == 123456000))
  }

  test("a tag and a custom attribute survive throttle and the index op") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the index runs on transformWithState: column families -> RocksDB
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[WireEvent]
    val out = Seq(op("""{"op":"throttle","n":2,"dt":60}"""),
      op("""{"op":"index"}"""))
      .foldLeft(input.toDF(): org.apache.spark.sql.DataFrame)(
        ConfigFile.applyOp)
    val q = out.writeStream.format("memory").queryName("cfg_whole_events")
      .outputMode("append").start()
    try {
      input.addData(WireEvent("h", "s", "ok", Some(1.0), new Timestamp(1000L),
        Some(60.0), Seq("prod"), Map("paws" -> "4")))
      q.processAllAvailable()
      val rows = spark.table("cfg_whole_events")
        .select("tags", "attributes").as[(Seq[String], Map[String, String])]
        .collect()
      assert(rows.toSeq == Seq((Seq("prod"), Map("paws" -> "4"))))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("window/rate ops: watermarked per-key time-window aggregation") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      ("a", 0L, 1.0), ("a", 3L, 2.0), ("a", 7L, 10.0), ("b", 1L, 4.0))
      .toDF("host", "t", "metric")
      .withColumn("time", timestamp_seconds(col("t")))
    val summed = ConfigFile.applyOp(df, op(
      """{"op":"window","agg":"sum","seconds":5,"by":["host"]}"""))
    val got = summed.collect()
      .map(r => (r.getAs[String]("host"),
        r.getAs[Timestamp]("time").getTime / 1000, r.getAs[Double]("metric")))
      .toSet
    assert(got == Set(("a", 0L, 3.0), ("a", 5L, 10.0), ("b", 0L, 4.0)))

    val rated = ConfigFile.applyOp(df, op(
      """{"op":"rate","seconds":5,"by":["host"]}"""))
    val gotR = rated.collect()
      .map(r => (r.getAs[String]("host"),
        r.getAs[Timestamp]("time").getTime / 1000, r.getAs[Double]("metric")))
      .toSet
    assert(gotR == Set(("a", 0L, 0.6), ("a", 5L, 2.0), ("b", 0L, 0.8)))
    // riemann's rate (streams.clj:841-883): the window's summed metric
    // per second, i.e. the window/sum rows divided by the 5 s interval
    assert(gotR == got.map { case (h, t, m) => (h, t, m / 5) })
  }

  test("window op agg=distinct: HLL distinct-per-window through the " +
    "config surface, equal to the batch estimate") {
    val spark0 = spark
    import spark0.implicits._
    val rows = (1 to 90).map(i => (s"h${i % 33}", (i % 4).toLong, 1.0))
    val df = rows.toDF("host", "t", "metric")
      .withColumn("time", timestamp_seconds(col("t")))
      .withColumn("service", lit("api"))
    val est = ConfigFile.applyOp(df, op(
      """{"op":"window","agg":"distinct","field":"host","seconds":5,"by":["service"]}"""))
    val got = est.collect().map(r =>
      (r.getAs[String]("service"),
        r.getAs[Timestamp]("time").getTime / 1000,
        r.getAs[Double]("metric")))
    val batch = graft.pipeline.Sketches.estimate(
        graft.pipeline.Sketches.sketch(df, Seq("service"), "host"),
        Seq("service")).collect().head.getAs[Double]("hll_est")
    assert(got.toSeq == Seq(("api", 0L, batch)))
    // 33 distinct hosts, m=64: the estimate is in the right ballpark
    assert(math.abs(batch - 33) < 15)
  }

  test("window op agg=p95: HDR quantile-per-window through the config " +
    "surface, equal to the batch sketch estimate") {
    val spark0 = spark
    import spark0.implicits._
    val rows = (1 to 200).map(i => ("api", (i % 4).toLong, (i * i % 977) / 3.0))
    val df = rows.toDF("service", "t", "metric")
      .withColumn("time", timestamp_seconds(col("t")))
    val est = ConfigFile.applyOp(df, op(
      """{"op":"window","agg":"p95","seconds":5,"by":["service"]}"""))
    val got = est.collect().map(r =>
      (r.getAs[String]("service"),
        r.getAs[Timestamp]("time").getTime / 1000,
        r.getAs[Double]("metric")))
    val batch = graft.pipeline.Sketches.hdrQuantiles(
        graft.pipeline.Sketches.hdrSketch(df, Seq("service"),
          floor(col("metric") * 1000).cast("long")),
        Seq("service"), Seq(950))
      .collect().head.getAs[Long]("hdr_est") / 1000.0
    assert(got.toSeq == Seq(("api", 0L, batch)))
    // p95 of ~uniform [0, 326): the under-estimating sketch answer is
    // within ~3% below the exact p95
    val exact = rows.map(_._3).sorted.apply(189) // ceil(0.95·200) = 190th
    assert(batch <= exact && batch > exact * 0.96)
  }

  test("window op rejects ambiguous percentile forms (p100, p050) " +
    "with a descriptive error") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(("api", 1.0)).toDF("service", "metric")
      .withColumn("time", timestamp_seconds(lit(0)))
    for (bad <- Seq("p100", "p050", "p00")) {
      val e = intercept[IllegalArgumentException] {
        ConfigFile.applyOp(df, op(
          s"""{"op":"window","agg":"$bad","seconds":5,"by":["service"]}"""))
      }
      assert(e.getMessage.contains("ambiguous"), s"$bad: ${e.getMessage}")
    }
    // unambiguous forms still parse: p95 (whole) and p999 (per-mille)
    ConfigFile.applyOp(df, op(
      """{"op":"window","agg":"p999","seconds":5,"by":["service"]}"""))
  }

  test("sessionize op: gap-based sessions through the config surface " +
    "(time = session start, metric = event count)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(("a", 0L), ("a", 5L), ("a", 30L), ("b", 2L))
      .toDF("host", "t")
      .withColumn("time", timestamp_seconds(col("t")))
      .withColumn("metric", lit(1.0))
    val got = ConfigFile.applyOp(df, op(
      """{"op":"sessionize","gap":10,"by":["host"]}"""))
      .collect().map(r => (r.getAs[String]("host"),
        r.getAs[Timestamp]("time").getTime / 1000,
        r.getAs[Double]("metric"))).toSet
    assert(got == Set(("a", 0L, 2.0), ("a", 30L, 1.0), ("b", 2L, 1.0)))
  }

  test("asof/enrich ops: stateless stream-static interval enrichment " +
    "through the config surface (reference parquet, helper cols hidden)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_asof")
    val refPath = dir.resolve("ref.parquet").toString
    Seq(("a", 10L, "v1"), ("a", 100L, "v2")).toDF("host", "time_s", "cfg")
      .write.mode("overwrite").parquet(refPath)
    val winPath = dir.resolve("win.parquet").toString
    Seq(("a", 0L, 50L, "mw1")).toDF("host", "start_s", "end_s", "reason")
      .write.mode("overwrite").parquet(winPath)
    val df = Seq(("a", 20L), ("a", 120L), ("b", 20L)).toDF("host", "t")
      .withColumn("time", timestamp_seconds(col("t"))).drop("t")
    val asofDf = ConfigFile.applyOp(df, op(
      s"""{"op":"asof","table":"$refPath","by":["host"],""" +
        """"fields":["cfg"],"maxValidity":1000,"bin":60}"""))
    assert(asofDf.columns.contains("asof_time_s") &&
      !asofDf.columns.contains("asof_t") &&
      !asofDf.columns.contains("asof_asof_t"))
    val asof = asofDf.collect().map(r => (r.getAs[String]("host"),
      r.getAs[Timestamp]("time").getTime / 1000,
      r.getAs[Any]("asof_cfg"))).toSet
    assert(asof == Set(("a", 20L, "v1"), ("a", 120L, "v2"),
      ("b", 20L, null)))
    val enr = ConfigFile.applyOp(df, op(
      s"""{"op":"enrich","table":"$winPath","by":["host"],""" +
        """"startCol":"start_s","endCol":"end_s","fields":["reason"],""" +
        """"bin":60}"""))
      .collect().map(r => (r.getAs[String]("host"),
        r.getAs[Timestamp]("time").getTime / 1000,
        r.getAs[Any]("asof_reason"))).toSet
    assert(enr == Set(("a", 20L, "mw1"), ("a", 120L, null),
      ("b", 20L, null)))
    // chaining asof THEN enrich in one stream (reference config plus
    // maintenance windows — the advertised combo) works with distinct
    // "as" names, and colliding names are rejected with a clear
    // message instead of a downstream AMBIGUOUS_REFERENCE
    val chained = ConfigFile.applyOp(asofDf, op(
      s"""{"op":"enrich","table":"$winPath","by":["host"],""" +
        """"startCol":"start_s","endCol":"end_s","fields":["reason"],""" +
        """"bin":60,"as":"mw_time_s"}"""))
    assert(chained.columns.count(_ == "asof_time_s") == 1 &&
      chained.columns.contains("mw_time_s"))
    val both = chained.collect().map(r => (r.getAs[String]("host"),
      r.getAs[Timestamp]("time").getTime / 1000,
      r.getAs[Any]("asof_cfg"), r.getAs[Any]("asof_reason"))).toSet
    assert(both == Set(("a", 20L, "v1", "mw1"), ("a", 120L, "v2", null),
      ("b", 20L, null, null)))
    val clash = intercept[IllegalArgumentException] {
      ConfigFile.applyOp(asofDf, op(
        s"""{"op":"enrich","table":"$winPath","by":["host"],""" +
          """"startCol":"start_s","endCol":"end_s","fields":["reason"],""" +
          """"bin":60}"""))
    }
    assert(clash.getMessage.contains("asof_time_s"))
  }

  test("stream-static ops persist their static side ONCE per (table " +
    "version, params): recompiles share the cached relation instead of " +
    "re-scanning + re-deriving it per micro-batch, and a refreshed " +
    "table (new version) + recompile picks up the new snapshot") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_static")
    val table = dir.resolve("windows.parquet").toString
    Seq(("h1", 100L, 200L, "dep-1"))
      .toDF("host", "win_start", "win_end", "deploy_id")
      .write.mode("overwrite").parquet(table)
    val df = events(E(1, host = "h1", time = 150))
      .withColumn("time", timestamp_seconds(col("time_s")))
    val json = s"""{"op":"enrich","table":"$table","by":["host"],
                   |"startCol":"win_start","endCol":"win_end",
                   |"fields":["deploy_id"],"bin":60}""".stripMargin

    val before = ConfigFile.staticCacheSize
    val a = ConfigFile.applyOp(df, op(json))
    assert(ConfigFile.staticCacheSize == before + 1)
    val b = ConfigFile.applyOp(df, op(json))
    assert(ConfigFile.staticCacheSize == before + 1,
      "identical recompile must reuse the cached static relation")
    assert(one[String](a, "asof_deploy_id") == "dep-1")
    assert(one[String](b, "asof_deploy_id") == "dep-1")

    // refresh the reference table: a recompile sees the NEW snapshot,
    // and the SUPERSEDED version's persisted copy is dropped on insert
    // (r18 ADVICE: frequent refresh + reload churn must not pin
    // obsolete cached relations until FIFO displacement) — the old
    // compile's plan still computes correctly, just unpersisted
    Seq(("h1", 100L, 200L, "dep-2"))
      .toDF("host", "win_start", "win_end", "deploy_id")
      .write.mode("overwrite").parquet(table)
    // mtime resolution guard: force a visibly newer version
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Path.of(table)).iterator().asScala.foreach(p =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000)))
    val c = ConfigFile.applyOp(df, op(json))
    assert(ConfigFile.staticCacheSize == before + 1,
      "the superseded table version must be evicted when its successor " +
        "is cached")
    assert(one[String](c, "asof_deploy_id") == "dep-2")
    // the superseded compile's plan still COMPUTES after its unpersist —
    // but from the current table files (its snapshot pin is traded away
    // by the eviction; a running query keeps correctness, it just
    // re-reads per batch and sees the refreshed contents)
    assert(one[String](a, "asof_deploy_id") == "dep-2")
  }

  test("tableVersion sees NESTED partition refreshes: a file added two " +
    "levels deep changes the cache key, so reload serves the new " +
    "snapshot instead of the stale persisted one (r18 ADVICE)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_nested")
    val table = dir.resolve("windows.parquet").toString
    Seq(("h1", 100L, 200L, "dep-1"))
      .toDF("host", "win_start", "win_end", "deploy_id")
      .write.partitionBy("host").parquet(table)
    val df = events(E(1, host = "h1", time = 150))
      .withColumn("time", timestamp_seconds(col("time_s")))
    val json = s"""{"op":"enrich","table":"$table","by":["host"],
                   |"startCol":"win_start","endCol":"win_end",
                   |"fields":["deploy_id"],"bin":60}""".stripMargin
    val before = ConfigFile.staticCacheSize
    assert(one[String](ConfigFile.applyOp(df, op(json)),
      "asof_deploy_id") == "dep-1")
    assert(ConfigFile.staticCacheSize == before + 1)
    // append into the NESTED partition dir only: the top-level listing
    // is unchanged (host=h1/ already existed), but the leaf grew a file
    Seq(("h1", 100L, 200L, "dep-2"))
      .toDF("host", "win_start", "win_end", "deploy_id")
      .write.mode("append").partitionBy("host").parquet(table)
    import scala.jdk.CollectionConverters._
    // force leaf files visibly newer; leave the top-level dirs alone
    Files.walk(java.nio.file.Path.of(table)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).foreach(p =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + 5000)))
    Files.list(java.nio.file.Path.of(table)).iterator().asScala.foreach(p =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000)))
    val c = ConfigFile.applyOp(df, op(json))
    // the appended interval row must be visible — a stale
    // top-level-mtime cache key would keep serving only dep-1
    val deploys = c.select("asof_deploy_id").collect()
      .map(_.getString(0)).toSet
    assert(deploys.contains("dep-2"),
      s"nested-partition refresh not picked up: $deploys")
    assert(ConfigFile.staticCacheSize == before + 1,
      "the nested refresh must SUPERSEDE the old version, not add beside it")
  }

  test("cachedStatic: the version-0 listing-failure sentinel serves the " +
    "newest cached snapshot instead of unpersisting it, and a stale older " +
    "version arriving late cannot evict a newer one (r19 ADVICE)") {
    val spark0 = spark
    import spark0.implicits._
    val key = "sentinel-test-" + System.nanoTime()
    val before = ConfigFile.staticCacheSize
    val v1 = ConfigFile.cachedStatic(spark0, key, 5L)(Seq(1).toDF("a"))
    assert(ConfigFile.staticCacheSize == before + 1)
    // transient FS error at reload: tableVersion returns the 0L
    // sentinel — the live pinned snapshot must be SERVED, not
    // unpersisted (running queries would silently recompute the
    // reference scan per batch), and no duplicate minted under 0
    var built = false
    val v0 = ConfigFile.cachedStatic(spark0, key, 0L) {
      built = true; Seq(2).toDF("a")
    }
    assert(!built, "the sentinel lookup must not build a duplicate static")
    assert(v0 eq v1, "the sentinel must serve the pinned snapshot")
    assert(ConfigFile.staticCacheSize == before + 1)
    assert(v1.storageLevel.useMemory || v1.storageLevel.useDisk,
      "the pinned snapshot must stay persisted through the sentinel")
    // a genuinely newer version still supersedes (strictly-older evict)
    val v2 = ConfigFile.cachedStatic(spark0, key, 9L)(Seq(3).toDF("a"))
    assert(ConfigFile.staticCacheSize == before + 1)
    assert(!(v2 eq v1))
    // an OLDER version arriving late (mtime regression, racing reload)
    // caches beside the newer snapshot instead of evicting it — the
    // old `!= version` invalidation thrashed the current copy out
    ConfigFile.cachedStatic(spark0, key, 7L)(Seq(4).toDF("a"))
    assert(ConfigFile.staticCacheSize == before + 2)
    assert(v2.storageLevel.useMemory || v2.storageLevel.useDisk,
      "a late older version must not unpersist the newer snapshot")
    // and the sentinel now picks the NEWEST of the coexisting versions
    val v0b = ConfigFile.cachedStatic(spark0, key, 0L)(Seq(5).toDF("a"))
    assert(v0b eq v2)
  }

  test("quality + langid ops: the curation firehose stages through the " +
    "config surface (gopher gate, artifact-trained classifier, streaming)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_curation")
    // labeled training corpus for the classifier
    val corpusPath = dir.resolve("corpus.parquet").toString
    val train = ((0 until 20).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo fox $i", "aa")) ++
      (0 until 20).map(i =>
        (100L + i, s"zulu xray quebec juliett kilo whisky $i", "zz")))
      .toDF("doc_id", "text", "lang")
    train.write.mode("overwrite").parquet(corpusPath)
    val artifact = dir.resolve("langid_model").toString

    // varied words + stopwords: passes all five gopher rules
    val good = (0 until 40).map(i => s"word$i the quick")
      .mkString(" ") + " and of to in is it for on with as"
    val docs = Seq(
      (1L, good),                     // passes gopher
      (2L, "too short"),              // fails minWords
      (3L, "alpha bravo charlie echo alpha bravo charlie")) // short but aa-ish
      .toDF("doc_id", "text")

    // quality: gopher gate drops the short rows, keeps the shape
    val q = ConfigFile.applyOp(docs, op(
      """{"op":"quality","minWords":20}"""))
    assert(q.columns.toSeq == docs.columns.toSeq)
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))

    // langid: trains once into the artifact, annotates in place
    val l1 = ConfigFile.applyOp(docs, op(
      s"""{"op":"langid","train":"$corpusPath","artifact":"$artifact"}"""))
    assert(l1.columns.contains("predicted_lang") &&
      l1.columns.contains("nb_score"))
    val byId = l1.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(byId(3L) == "aa", s"got $byId")
    // second compile reuses the persisted artifact (manifest matches)
    assert(graft.pipeline.Models.matches(spark, artifact, "langid_ngram",
      Map("buckets" -> graft.pipeline.TextAnalysis.LangIdBuckets.toString,
        "corpus" -> graft.pipeline.Models.corpusFingerprint(
          train, Seq("doc_id", "text", "lang")))))
    val l2 = ConfigFile.applyOp(docs, op(
      s"""{"op":"langid","model":"$artifact"}"""))
    assert(l2.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("predicted_lang")).toMap == byId)

    // both ops are stateless → they run on a live stream as-is
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val streamed = ConfigFile.applyOp(
      ConfigFile.applyOp(in.toDF().toDF("doc_id", "text"), op(
        """{"op":"quality","minWords":20}""")), op(
        s"""{"op":"langid","model":"$artifact"}"""))
    val qy = streamed.writeStream.format("memory")
      .queryName("cfg_curation_stream").outputMode("append").start()
    try {
      in.addData((1L, good), (2L, "too short"))
      qy.processAllAvailable()
      val rows = spark.table("cfg_curation_stream")
        .select("doc_id", "predicted_lang").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L))
    } finally qy.stop()
  }

  test("dedup + neardup + tokens ops: the curation firehose back half " +
    "through the config surface (exact dedup, LSH pairs, BPE counts)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_dedup")
    val t0 = 1706000000L
    def ts(s: Long) = new Timestamp(s * 1000)
    val same =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val docsB = Seq(
      (1L, same, ts(t0)),
      (2L, same, ts(t0 + 10)), // exact duplicate of 1
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo",
        ts(t0 + 20)), // near duplicate of 1
      (4L, "completely different words entirely unrelated content here",
        ts(t0 + 30)))
      .toDF("doc_id", "text", "time")

    // dedup batch face: one row per distinct text, shape preserved
    val d = ConfigFile.applyOp(docsB, op("""{"op":"dedup"}"""))
    assert(d.columns.toSeq == docsB.columns.toSeq)
    assert(d.count() == 3)

    // neardup batch face: the exact pair must collide in every band
    val nb = ConfigFile.applyOp(docsB,
      op("""{"op":"neardup","threshold":0.5}"""))
    assert(nb.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard"))
    val pairsB = nb.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsB.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"exact pair missing: $pairsB")

    // tokens: trains once into the artifact, annotates in place
    val corpusPath = dir.resolve("corpus.parquet").toString
    docsB.select("doc_id", "text").write.mode("overwrite").parquet(corpusPath)
    val artifact = dir.resolve("bpe_model").toString
    val tk = ConfigFile.applyOp(docsB, op(
      s"""{"op":"tokens","train":"$corpusPath","artifact":"$artifact"}"""))
    assert(tk.columns.toSeq ==
      docsB.columns.toSeq ++ Seq("n_pretokens", "n_bpe_tokens"))
    def countsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pretokens"), r.getAs[Long]("n_bpe_tokens"))).toMap
    val c1 = countsOf(tk)
    assert(c1(1L)._1 == 10L, s"pretokens: $c1")
    assert(c1(1L) == c1(2L)) // identical text, identical counts
    // second compile reuses the persisted artifact, counts identical
    val tk2 = ConfigFile.applyOp(docsB,
      op(s"""{"op":"tokens","model":"$artifact"}"""))
    assert(countsOf(tk2) == c1)

    // streaming: tokens (stateless projection) -> dedup (within-
    // watermark first-arrival) chained on one live stream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val piped = ConfigFile.applyOp(
      ConfigFile.applyOp(in.toDF().toDF("doc_id", "text", "time"),
        op(s"""{"op":"tokens","model":"$artifact"}""")),
      op("""{"op":"dedup","horizon":"1 hour"}"""))
    val qy = piped.writeStream.format("memory")
      .queryName("cfg_dedup_stream").outputMode("append").start()
    try {
      in.addData((1L, same, ts(t0)), (2L, same, ts(t0 + 10)),
        (4L, "completely different words entirely unrelated content here",
          ts(t0 + 30)))
      qy.processAllAvailable()
      val rows = spark.table("cfg_dedup_stream")
        .select("doc_id", "n_bpe_tokens").collect()
      assert(rows.length == 2, s"expected 2 survivors: ${rows.toSeq}")
      assert(rows.forall(_.getLong(1) > 0))
    } finally qy.stop()

    // streaming neardup: the exact pair surfaces from the saturating-
    // bucket processor with the same (doc_a, doc_b, est_jaccard) shape
    // (transformWithState needs column families -> RocksDB provider)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in2 = MemoryStream[(Long, String, Timestamp)]
    val nd = ConfigFile.applyOp(in2.toDF().toDF("doc_id", "text", "time"),
      op("""{"op":"neardup","horizon":3600,"threshold":0.5}"""))
    assert(nd.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard"))
    val qy2 = nd.writeStream.format("memory")
      .queryName("cfg_neardup_stream").outputMode("append").start()
    try {
      in2.addData((1L, same, ts(t0)), (2L, same, ts(t0 + 10)))
      qy2.processAllAvailable()
      val pairsS = spark.table("cfg_neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairsS.contains((1L, 2L, 1.0)), s"stream pairs: $pairsS")
    } finally qy2.stop()
  }

  test("crosscorpus op: decontamination against a static reference " +
    "corpus — match face on a stream, drop face in batch") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_xcorpus")
    val t0 = 1706000000L
    def ts(s: Long) = new Timestamp(s * 1000)
    val contaminated =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    // the reference corpus (e.g. the benchmark slice)
    val refPath = dir.resolve("reference.parquet").toString
    Seq((100L, contaminated), (101L, "other reference text entirely " +
      "different words with no overlap at all here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(refPath)

    val incoming = Seq(
      (1L, contaminated, ts(t0)), // exact copy of ref 100
      (2L, "clean arriving document with fresh unique words nothing " +
        "shared anywhere", ts(t0 + 10)))
      .toDF("doc_id", "text", "time")

    // batch match face: doc 1 collides with ref 100 in every band
    val m = ConfigFile.applyOp(incoming, op(
      s"""{"op":"crosscorpus","table":"$refPath","threshold":0.5}"""))
    assert(m.columns.toSeq == Seq("new_id", "ref_id", "est_jaccard", "band"))
    val pairs = m.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 100L && p._3 == 1.0),
      s"matches: $pairs")
    assert(!pairs.exists(_._1 == 2L), s"clean doc matched: $pairs")

    // batch drop face: the contaminated doc is removed, shape kept
    val kept = ConfigFile.applyOp(incoming, op(
      s"""{"op":"crosscorpus","table":"$refPath","mode":"drop"}"""))
    assert(kept.columns.toSeq == incoming.columns.toSeq)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(2L))

    // streaming match face: stateless, the pair surfaces per batch
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val nd = ConfigFile.applyOp(in.toDF().toDF("doc_id", "text", "time"),
      op(s"""{"op":"crosscorpus","table":"$refPath","threshold":0.5}"""))
    val qy = nd.writeStream.format("memory")
      .queryName("cfg_xcorpus_stream").outputMode("append").start()
    try {
      in.addData((1L, contaminated, ts(t0)),
        (2L, "clean arriving document with fresh unique words nothing " +
          "shared anywhere", ts(t0 + 10)))
      qy.processAllAvailable()
      val got = spark.table("cfg_xcorpus_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 100L)) && !got.exists(_._1 == 2L),
        s"stream matches: $got")
    } finally qy.stop()

    // drop mode on a stream is rejected with the division-of-labor hint
    val err = intercept[IllegalArgumentException] {
      ConfigFile.applyOp(in.toDF().toDF("doc_id", "text", "time"),
        op(s"""{"op":"crosscorpus","table":"$refPath","mode":"drop"}"""))
    }
    assert(err.getMessage.contains("batch-only"), err.getMessage)
  }

  test("the whole curation firehose as ONE config file (the " +
    "examples/curation.example.json shape): quality -> langid -> dedup " +
    "-> tokens, plus a decontamination feed, no Scala") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cfg_firehose")
    def ts(s: Long) = new Timestamp(s * 1000)

    // training corpora + benchmark slice the config references
    val labeled = dir.resolve("labeled.parquet").toString
    ((0 until 20).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo fox $i", "aa")) ++
      (0 until 20).map(i =>
        (100L + i, s"zulu xray quebec juliett kilo whisky $i", "zz")))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(labeled)
    val trainCorpus = dir.resolve("train.parquet").toString
    val contaminated = "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliett"
    Seq((1L, contaminated), (2L, "assorted training words for merges"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(trainCorpus)
    val benchmark = dir.resolve("benchmark.parquet").toString
    Seq((500L, contaminated)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(benchmark)

    val cfg = dir.resolve("curation.json")
    write(cfg,
      s"""{"streams": [
         |  {"name": "curation", "source": "docs",
         |   "pipeline": [
         |     {"op": "quality", "minWords": 20},
         |     {"op": "langid", "train": "$labeled",
         |                      "artifact": "${dir.resolve("m_langid")}"},
         |     {"op": "dedup", "horizon": "1 hour"},
         |     {"op": "tokens", "train": "$trainCorpus",
         |                      "artifact": "${dir.resolve("m_bpe")}"}],
         |   "sink": {"kind": "memory"}},
         |  {"name": "decontam", "source": "docs",
         |   "pipeline": [
         |     {"op": "crosscorpus", "table": "$benchmark",
         |      "threshold": 0.5}],
         |   "sink": {"kind": "memory"}}
         |]}""".stripMargin)

    val in = MemoryStream[(Long, String, Timestamp)]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = Map("docs" -> (() => in.toDF().toDF(
        "doc_id", "text", "time"))))
    try {
      assert(loader.reload().toSet == Set("curation", "decontam"))
      val good = (0 until 40).map(i => s"word$i the quick")
        .mkString(" ") + " and of to in is it for on with as"
      in.addData(
        (10L, good, ts(1706000000L)),        // survives everything
        (11L, good, ts(1706000010L)),        // exact dup of 10 -> dropped
        (12L, "too short", ts(1706000020L)), // fails quality
        (13L, contaminated, ts(1706000030L))) // fails quality; decontam hit
      core.processAllAvailable()

      val kept = loader.memorySinks("curation").rows
      import scala.jdk.CollectionConverters._
      val keptRows = kept.asScala.toSeq
      assert(keptRows.map(_.getAs[Long]("doc_id")) == Seq(10L),
        s"curation kept: ${keptRows.map(_.getAs[Long]("doc_id"))}")
      val r = keptRows.head
      assert(r.getAs[String]("predicted_lang") != null)
      assert(r.getAs[Long]("n_bpe_tokens") > 0L)

      val hits = loader.memorySinks("decontam").rows.asScala
        .map(x => (x.getAs[Long]("new_id"), x.getAs[Long]("ref_id"))).toSet
      assert(hits.contains((13L, 500L)), s"decontam hits: $hits")
      assert(!hits.exists(_._1 == 10L), s"clean doc flagged: $hits")
    } finally core.stop()
  }

  // ------------------------------------------------- file → Core lifecycle

  test("Loader: file config starts streams; reload restarts only edits; " +
    "include merges; removal stops (config.clj include + bin.clj reload)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-config")
    val incl = dir.resolve("alerts.json")
    val main = dir.resolve("riemann.json")
    write(incl,
      """{"streams":[{"name":"criticals","source":"input",
        |  "pipeline":[{"op":"where","expr":"state = 'critical'"}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    write(main,
      """{"include":["alerts.json"],
        |"streams":[{"name":"scaled","source":"input",
        |  "pipeline":[{"op":"scale","factor":2.0}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)

    val input = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, main,
      sources0 = Map("input" -> (() => input.toDF())))

    // first load: both streams (included + own) start
    assert(loader.reload().toSet == Set("criticals", "scaled"))
    val critQ = core.activeQueries("criticals")

    input.addData(
      SEvent("h1", "s", "critical", Some(5.0), new Timestamp(1000), None),
      SEvent("h2", "s", "ok", Some(3.0), new Timestamp(2000), None))
    core.processAllAvailable()
    // BOTH streams see BOTH events (core.clj:15-20 fan-out: two
    // subscribers on one source each get every event via the tee)
    assert(loader.memorySinks("criticals").rows.size == 1)
    assert(loader.memorySinks("scaled").rows.size == 2)

    // reload with only `scaled` edited: criticals is equiv -> keeps its
    // query (and therefore its state); scaled restarts
    write(main,
      """{"include":["alerts.json"],
        |"streams":[{"name":"scaled","source":"input",
        |  "pipeline":[{"op":"scale","factor":10.0}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    assert(loader.reload() == Seq("scaled"))
    assert(core.activeQueries("criticals").id == critQ.id)

    input.addData(
      SEvent("h3", "s", "critical", Some(1.0), new Timestamp(3000), None))
    core.processAllAvailable()
    assert(loader.memorySinks("criticals").rows.size == 2)
    // restarted `scaled` appended to the SAME cached memory sink, with
    // the new factor: 1.0 * 10
    val metrics = loader.memorySinks("scaled").rows.toArray
      .map(_.asInstanceOf[org.apache.spark.sql.Row]
        .getAs[java.lang.Double]("metric"))
    assert(metrics.contains(10.0))

    // removal: drop the include -> criticals stops on reload; the
    // surviving `scaled` keeps RUNNING untouched (reload only restarts
    // what changed), which means the source's tee stays live too
    // (sticky fan-out — the single-consumer source was consumed by the
    // tee, so the survivor keeps reading its spool)
    write(main,
      """{"streams":[{"name":"scaled","source":"input",
        |  "pipeline":[{"op":"scale","factor":10.0}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    assert(loader.reload() == Seq())
    assert(core.activeQueries.keySet == Set("scaled", "__fanout__input"))

    core.stop()
  }

  test("a reload whose edited stream fails to build keeps the old " +
    "topology: every stream still runs") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val main = Files.createTempDirectory("graft-config-failed").resolve("g.json")
    def streams(bOps: String): Unit = write(main,
      s"""{"streams":[
         |  {"name":"a","source":"in_a","pipeline":[],"sink":{"kind":"memory"}},
         |  {"name":"b","source":"in_b","pipeline":[$bOps],
         |   "sink":{"kind":"memory"}}]}""".stripMargin)
    val (inA, inB) = (MemoryStream[WireEvent], MemoryStream[WireEvent])
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, main, sources0 = Map(
      "in_a" -> (() => inA.toDF()), "in_b" -> (() => inB.toDF())))
    try {
      streams("""{"op":"where","expr":"state = 'ok'"}""")
      assert(loader.reload().toSet == Set("a", "b"))
      streams("""{"op":"where","expr":"state = 'ok'"},{"op":"nosuch"}""")
      val err = intercept[IllegalArgumentException](loader.reload())
      assert(err.getMessage.contains("nosuch"))
      assert(core.activeQueries.keySet == Set("a", "b"))
      assert(core.activeQueries.values.forall(_.isActive))
    } finally core.stop()
  }

  test("a failed reload keeps fanned-out subscribers on their spools: " +
    "a stream that shares its source and fails to build still gets " +
    "every event") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val main = Files.createTempDirectory("graft-config-failed-fan")
      .resolve("g.json")
    def streams(bOps: String): Unit = write(main,
      s"""{"streams":[
         |  {"name":"a","source":"in","pipeline":[],"sink":{"kind":"memory"}},
         |  {"name":"b","source":"in","pipeline":[$bOps],
         |   "sink":{"kind":"memory"}}]}""".stripMargin)
    val in = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, main,
      sources0 = Map("in" -> (() => in.toDF())))
    try {
      streams("""{"op":"where","expr":"state = 'ok'"}""")
      assert(loader.reload().toSet == Set("a", "b"))
      in.addData(SEvent("h1", "s", "ok", Some(1.0), new Timestamp(1000), None))
      core.processAllAvailable()
      assert(loader.memorySinks("b").rows.size == 1)

      streams("""{"op":"where","expr":"state = 'ok'"},{"op":"nosuch"}""")
      intercept[IllegalArgumentException](loader.reload())
      assert(core.activeQueries.keySet == Set("a", "b", "__fanout__in"))
      assert(core.activeQueries.values.forall(_.isActive))
      // the tee still writes b's old spool, which b's old query reads
      in.addData(SEvent("h2", "s", "ok", Some(2.0), new Timestamp(2000), None))
      core.processAllAvailable()
      assert(loader.memorySinks("a").rows.size == 2)
      assert(loader.memorySinks("b").rows.size == 2)
    } finally core.stop()
  }

  test("Loader rejects include cycles; duplicate stream names collapse " +
    "last-wins, so an includer shadows an included stream (load's " +
    "documented include-shadowing contract)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-config-bad")
    val a = dir.resolve("a.json")
    val b = dir.resolve("b.json")
    write(a, """{"include":["b.json"],"streams":[]}""")
    write(b, """{"include":["a.json"],"streams":[]}""")
    intercept[IllegalArgumentException](ConfigFile.load(a))

    // base defines "x" as a critical-only filter; the includer
    // redefines "x" as a pass-everything scale — the includer's
    // definition (concatenated last) must win, and exactly one "x"
    // stream starts
    val base = dir.resolve("base.json")
    val main = dir.resolve("main.json")
    write(base,
      """{"streams":[{"name":"x","source":"input",
        |  "pipeline":[{"op":"where","expr":"state = 'critical'"}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    write(main,
      """{"include":["base.json"],
        |"streams":[{"name":"x","source":"input",
        |  "pipeline":[{"op":"scale","factor":2.0}],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val input = MemoryStream[WireEvent]
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, main,
      sources0 = Map("input" -> (() => input.toDF())))
    assert(loader.reload() == Seq("x"))
    assert(core.activeQueries.keySet == Set("x"))
    input.addData(
      SEvent("h1", "s", "critical", Some(5.0), new Timestamp(1000), None),
      SEvent("h2", "s", "ok", Some(3.0), new Timestamp(2000), None))
    core.activeQueries.values.foreach(_.processAllAvailable())
    // the shadowing scale stream passes BOTH events (the shadowed
    // critical-only filter would have passed one)
    assert(loader.memorySinks("x").rows.size == 2)
    core.stop()
  }

  test("duplicate stream names in the SAME file are rejected (pasted-twice " +
    "typo), while include shadowing stays legal") {
    val dir = Files.createTempDirectory("graft-config-dup")
    val f = dir.resolve("dup.json")
    write(f,
      """{"streams":[
        | {"name":"y","source":"input","pipeline":[],"sink":{"kind":"memory"}},
        | {"name":"y","source":"input","pipeline":[],"sink":{"kind":"memory"}}]}"""
        .stripMargin)
    val e = intercept[IllegalArgumentException](ConfigFile.load(f))
    assert(e.getMessage.contains("duplicate stream name"))
    assert(e.getMessage.contains("y"))
  }

  test("installSighup wires a HUP handler (or degrades gracefully)") {
    val dir = Files.createTempDirectory("graft-config-hup")
    val f = dir.resolve("c.json")
    write(f, """{"streams":[]}""")
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, f,
      sources0 = Map.empty)
    // on this JVM sun.misc.Signal is present; a sandboxed one returns
    // false and explicit reload() remains the contract either way
    val fired = new java.util.concurrent.CountDownLatch(1)
    val installed = loader.installSighup(() => {
      loader.reload(); fired.countDown()
    })
    if (installed) {
      sun.misc.Signal.raise(new sun.misc.Signal("HUP"))
      // the handler runs on the signal dispatch thread
      assert(fired.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the HUP handler did not run")
    }
    assert(loader.reload() == Seq())
  }

  test("a config value of the wrong type fails the load, naming its key, " +
    "instead of running as the default") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WireEvent]
    val docs = Seq((1L, "a document")).toDF("doc_id", "text")
    // an op argument: the index would run at "0 seconds", the split
    // would keep every split
    for ((df, json, key) <- Seq(
        (input.toDF(), """{"op":"index","watermark":30}""",
          "index.watermark: got JInt(30)"),
        (docs, """{"op":"split","keep":1}""", "split.keep: got JInt(1)"))) {
      val e = intercept[IllegalArgumentException] {
        ConfigFile.applyOp(df, op(json))
      }
      assert(e.getMessage.contains(key), s"$json: ${e.getMessage}")
    }
    // a sink spec: a string sink would run as a console sink, a numeric
    // checkpoint would start the query with no checkpoint
    val dir = Files.createTempDirectory("graft-config-types")
    for ((sink, key) <- Seq(
        "\"index\"" -> "s.sink: got JString(index)",
        """{"kind":"memory","checkpoint":5}""" ->
          "s.sink.checkpoint: got JInt(5)")) {
      val f = dir.resolve(s"c${sink.hashCode.abs}.json")
      write(f, s"""{"streams":[{"name":"s","source":"input",
                  |  "pipeline":[],"sink":$sink}]}""".stripMargin)
      val core = new Core(spark)
      val loader = new ConfigFile.Loader(core, spark, f,
        sources0 = Map("input" -> (() => input.toDF())))
      try {
        val e = intercept[IllegalArgumentException](loader.reload())
        assert(e.getMessage.contains(key), s"$sink: ${e.getMessage}")
        assert(core.activeQueries.isEmpty)
      } finally core.stop()
    }
  }

  test("the op table and docs/config.md's two op tables name the same ops") {
    val doc = Files.readString(java.nio.file.Paths.get("docs/config.md"))
    val tables = doc.split("\n### ").filter(_.contains("ops (the")).toSeq
    assert(tables.size == 2, "the Monitoring and Curation op sections")
    val documented = tables.flatMap(_.split("\n").toSeq
      .filter(_.startsWith("| `"))
      .flatMap(row => "`([a-z-]+)`".r.findAllMatchIn(row.split('|')(1))
        .map(_.group(1)))).toSet
    assert(documented == ConfigFile.opNames,
      s"only in docs: ${documented -- ConfigFile.opNames}; only in the " +
        s"table: ${ConfigFile.opNames -- documented}")
  }

  test("curation planner ops (cap/split/pack/sample/mixture) through " +
    "the config surface equal their Scala forms; batch-only ops refuse " +
    "streams") {
    val spark0 = spark
    import spark0.implicits._
    val docs = (0 until 200).map { i =>
      (i.toLong, s"src${i % 5}", "en",
        (0 until 5 + i % 7).map(j => s"w$i$j").mkString(" "))
    }.toDF("doc_id", "source", "lang", "text")

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet

    assert(rows(ConfigFile.applyOp(docs,
        op("""{"op":"cap","maxPerSource":10}"""))) ==
      rows(graft.pipeline.Curation.sourceCap(docs, 10)))
    assert(rows(ConfigFile.applyOp(docs,
        op("""{"op":"split","trainFrac":0.8,"valFrac":0.1}"""))) ==
      rows(graft.pipeline.Curation.splitAssign(docs, 0.8, 0.1)))
    val kept = ConfigFile.applyOp(docs,
      op("""{"op":"split","keep":"train"}"""))
    assert(kept.select("split").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("train"))
    assert(rows(ConfigFile.applyOp(docs,
        op("""{"op":"pack","budget":64,"nShards":4}"""))) ==
      rows(graft.pipeline.Curation.packSequences(docs, 64, 4)))
    assert(rows(ConfigFile.applyOp(docs,
        op("""{"op":"sample","alpha":0.7,"targetFrac":0.5}"""))) ==
      rows(graft.pipeline.Curation.temperatureSample(docs, 0.7, 0.5)))
    assert(rows(ConfigFile.applyOp(docs,
        op("""{"op":"mixture","budgetTokens":5000,"alpha":0.7,
             |"maxEpochs":2.0}""".stripMargin))) ==
      rows(graft.pipeline.Curation.mixturePlan(docs, 5000, 0.7, 2.0)))

    // corpus-level planners refuse streams with a clear message
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String, String)]
    val sdf = ms.toDF().toDF("doc_id", "source", "lang", "text")
    for (j <- Seq("""{"op":"cap","maxPerSource":10}""",
        """{"op":"pack","budget":64}""",
        """{"op":"sample"}""",
        """{"op":"mixture","budgetTokens":5000}""")) {
      val e = intercept[IllegalArgumentException] {
        ConfigFile.applyOp(sdf, op(j))
      }
      assert(e.getMessage.contains("batch job"), s"$j: ${e.getMessage}")
    }
    // split is narrow — it must compile on the stream
    assert(ConfigFile.applyOp(sdf, op("""{"op":"split"}"""))
      .columns.contains("split"))
  }

  test("runJobs: the examples/curation.example.json jobs shape end to " +
    "end — cap -> split(train) -> pack written as a parquet training " +
    "set, plus the mixture table, no Scala") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_jobs")
    val corpus = dir.resolve("curated.parquet").toString
    (0 until 300).map { i =>
      (i.toLong, s"src${i % 3}", if (i % 2 == 0) "en" else "de",
        (0 until 8 + i % 5).map(j => s"w$i$j").mkString(" "))
    }.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(corpus)

    val cfg = dir.resolve("jobs.json")
    write(cfg,
      s"""{"jobs": [
         |  {"name": "train-set", "input": "$corpus",
         |   "pipeline": [
         |     {"op": "cap",   "maxPerSource": 80},
         |     {"op": "split", "trainFrac": 0.8, "valFrac": 0.1,
         |                     "keep": "train"},
         |     {"op": "pack",  "budget": 64, "nShards": 4}],
         |   "output": "${dir.resolve("packed.parquet")}"},
         |  {"name": "mixture-table", "input": "$corpus",
         |   "pipeline": [
         |     {"op": "mixture", "budgetTokens": 10000, "alpha": 0.7,
         |                       "maxEpochs": 3.0}],
         |   "output": "${dir.resolve("mixture.parquet")}"}
         |]}""".stripMargin)

    val ran = ConfigFile.runJobs(spark, cfg)
    assert(ran.map(_._1) == Seq("train-set", "mixture-table"))

    // the packed training set: capped, train-only ids, packing layout
    val packed = spark.read.parquet(dir.resolve("packed.parquet").toString)
    assert(packed.columns.toSeq == Seq("doc_id", "lang", "shard",
      "n_tokens", "start_tok", "chunk", "chunk_offset"))
    val expect = graft.pipeline.Curation.packSequences(
      graft.pipeline.Curation.splitAssign(
        graft.pipeline.Curation.sourceCap(
          spark.read.parquet(corpus), 80), 0.8, 0.1)
        .filter(col("split") === "train"), 64, 4)
    assert(packed.collect().map(_.toSeq).toSet ==
      expect.collect().map(_.toSeq).toSet)
    assert(ran.head._2 == expect.count())

    // the mixture table: one row per source, budget accounted
    val mix = spark.read.parquet(dir.resolve("mixture.parquet").toString)
    assert(mix.count() == 3)
    val alloc = mix.agg(sum("alloc_tokens"), min("unspent")).head()
    assert(alloc.getLong(0) + alloc.getLong(1) == 10000L)

    // "rows written" means THIS run's rows even in append mode (r17
    // ADVICE): a second append run reports the pipeline count, not
    // the accumulated rows-at-path
    val cfg2 = dir.resolve("jobs_append.json")
    write(cfg2,
      s"""{"jobs": [
         |  {"name": "acc", "input": "$corpus",
         |   "pipeline": [{"op": "split", "keep": "val"}],
         |   "output": "${dir.resolve("acc.parquet")}",
         |   "mode": "append"}
         |]}""".stripMargin)
    val r1 = ConfigFile.runJobs(spark, cfg2)
    val r2 = ConfigFile.runJobs(spark, cfg2)
    assert(r1.head._2 > 0 && r1 == r2,
      s"append-mode rows-written must not accumulate: $r1 vs $r2")
    assert(spark.read.parquet(dir.resolve("acc.parquet").toString)
      .count() == 2 * r1.head._2)
  }

  test("per-stream trigger (r18 VERDICT #7): availableNow drains the " +
    "source and terminates on its own; processingTime paces a live " +
    "cadence; a malformed trigger object is rejected") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_cfg_trigger")
    val srcDir = dir.resolve("src")
    Files.createDirectories(srcDir)
    Seq((1L, "m1"), (2L, "m2")).toDF("event_id", "msg")
      .write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val mkSources = Map("log" -> (() =>
      spark.readStream.schema(schema).parquet(srcDir.toString)))

    // availableNow: drain-and-stop — the batch-style stream shape
    val cfg = dir.resolve("drain.json")
    write(cfg,
      """{"streams":[
        | {"name":"drain","source":"log","pipeline":[],
        |  "trigger":{"availableNow":true},
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core = new Core(spark)
    val loader = new ConfigFile.Loader(core, spark, cfg,
      sources0 = mkSources)
    import scala.jdk.CollectionConverters._
    try {
      loader.reload()
      val q = core.activeQueries("drain")
      assert(q.awaitTermination(60000),
        "availableNow query did not terminate after draining")
      assert(loader.memorySinks("drain").rows.asScala
        .map(_.getAs[Long]("event_id")).toSeq.sorted == Seq(1L, 2L))
    } finally core.stop()

    // processingTime: the query stays live and delivers on its cadence
    val cfg2 = dir.resolve("paced.json")
    write(cfg2,
      """{"streams":[
        | {"name":"paced","source":"log","pipeline":[],
        |  "trigger":{"processingTime":"100 milliseconds"},
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core2 = new Core(spark)
    val loader2 = new ConfigFile.Loader(core2, spark, cfg2,
      sources0 = mkSources)
    try {
      loader2.reload()
      val q = core2.activeQueries("paced")
      val deadline = System.currentTimeMillis() + 30000
      while (loader2.memorySinks("paced").rows.size() < 2 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(q.isActive, "processingTime query must keep running")
      assert(loader2.memorySinks("paced").rows.asScala
        .map(_.getAs[Long]("event_id")).toSeq.sorted == Seq(1L, 2L))
    } finally core2.stop()

    // editing the trigger restarts EXACTLY that stream (it lives in
    // the stream's JSON subtree, so the signature changes)
    val cfgEdit = dir.resolve("edit.json")
    write(cfgEdit,
      """{"streams":[
        | {"name":"paced2","source":"log","pipeline":[],
        |  "trigger":{"processingTime":"100 milliseconds"},
        |  "sink":{"kind":"memory"}},
        | {"name":"steady","source":"log2","pipeline":[],
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val coreE = new Core(spark)
    val loaderE = new ConfigFile.Loader(coreE, spark, cfgEdit,
      sources0 = mkSources + ("log2" -> mkSources("log")))
    try {
      loaderE.reload()
      val steadyId = coreE.activeQueries("steady").id
      write(cfgEdit,
        """{"streams":[
          | {"name":"paced2","source":"log","pipeline":[],
          |  "trigger":{"processingTime":"200 milliseconds"},
          |  "sink":{"kind":"memory"}},
          | {"name":"steady","source":"log2","pipeline":[],
          |  "sink":{"kind":"memory"}}]}""".stripMargin)
      assert(loaderE.reload() == Seq("paced2"),
        "editing a trigger must restart exactly that stream")
      assert(coreE.activeQueries("steady").id == steadyId)
    } finally coreE.stop()

    // malformed trigger: loud rejection, not a silent default
    val cfg3 = dir.resolve("bad.json")
    write(cfg3,
      """{"streams":[
        | {"name":"bad","source":"log","pipeline":[],
        |  "trigger":{"bogus":1},
        |  "sink":{"kind":"memory"}}]}""".stripMargin)
    val core3 = new Core(spark)
    val loader3 = new ConfigFile.Loader(core3, spark, cfg3,
      sources0 = mkSources)
    try {
      val e = intercept[IllegalArgumentException](loader3.reload())
      assert(e.getMessage.contains("trigger"))
    } finally core3.stop()
  }
}
