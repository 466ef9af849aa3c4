package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for trained model artifacts — the piece a production
  * training-data pipeline must ship BESIDE the data: tokenizer merge
  * tables, language-ID grids, and vector-quantizer codebooks are
  * trained once on a reference corpus, versioned, and applied to every
  * subsequent batch without re-training (the riemann reference keeps
  * all state in-process and persists nothing — documented as its
  * weakness, SURVEY §3; cf. `src/riemann/streams/pure.clj:1-30`).
  *
  * Layout: `<path>/data` is a plain parquet table (the artifact is
  * queryable like any other table — auditable with the same engine
  * that trains it) and `<path>/manifest.json` records the artifact
  * kind, a format version, the full training configuration, and an
  * md5 config hash. [[load]] refuses a kind/version mismatch, and the
  * `loadOrTrain*` helpers re-train whenever the config hash — which
  * includes a corpus fingerprint — no longer matches, so a stale
  * artifact can never silently serve a regenerated corpus.
  *
  * All IO goes through the Hadoop FileSystem API, so `path` may be
  * local, HDFS, or an object store — on a 1000-executor cluster the
  * artifact lives next to the data lake, and applying it is a pure
  * broadcast/plan-constant operation (no retrain pass over 100 TB).
  */
object Models {

  /** Bump when any artifact's parquet schema, in-memory shape, or
    * VALIDITY CONTRACT changes — loads of older artifacts then fall
    * back to re-train. 2: manifests must record `data_md5`
    * ([[matches]] requires it), so pre-checksum artifacts re-train
    * explicitly rather than silently reading as no-match. */
  val FormatVersion = 2

  private def hadoopFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Deterministic hash of (kind, format version, config): the
    * manifest identity. Sorted keys so map order can't flip it. */
  def configHash(kind: String, config: Map[String, String]): String = {
    val canon = (s"kind=$kind" +: s"format=$FormatVersion" +:
      config.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Cheap order-independent corpus identity — ONE narrow scan, no
    * exchange beyond the final single-row agg: (row count, sum of
    * per-row xxhash64 over the training-relevant columns). Included in
    * every train config so a regenerated corpus at the same path
    * invalidates the artifact. */
  def corpusFingerprint(df: DataFrame, cols: Seq[String]): String = {
    // decimal-exact sum: ANSI mode would overflow a long sum of
    // full-range 64-bit hashes
    val r = df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cols.map(col): _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString}"
  }

  private def manifestPath(path: String) = new Path(path, "manifest.json")
  private def dataPath(path: String) = new Path(path, "data").toString

  /** md5 over the artifact's data files (relative name + content,
    * sorted by name; hidden/underscore files skipped). Recorded in the
    * manifest so a pre-planted or bit-rotted data directory can never
    * be served under a syntactically valid manifest. Artifacts are
    * tiny by construction (merge lists, vocab tables, codebooks —
    * bounded by vocab caps, never corpus-proportional), so the full
    * content hash is cheap. */
  def dataChecksum(spark: SparkSession, path: String): Option[String] =
    try {
      val fs = hadoopFs(spark, path)
      val root = new Path(dataPath(path))
      if (!fs.exists(root)) return None
      val files = fs.listStatus(root).filter(_.isFile).map(_.getPath)
        .filter { p =>
          val n = p.getName
          !n.startsWith(".") && !n.startsWith("_")
        }.sortBy(_.getName)
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { p =>
        md.update(p.getName.getBytes("UTF-8"))
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n >= 0) {
            if (n > 0) md.update(buf, 0, n)
            n = in.read(buf)
          }
        } finally in.close()
      }
      Some(md.digest().map(b => f"$b%02x").mkString)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write `<path>/manifest.json` (overwrites). */
  private def writeManifest(spark: SparkSession, path: String,
      kind: String, config: Map[String, String]): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.pretty(JsonMethods.render(
      ("kind" -> kind) ~ ("format" -> FormatVersion) ~
        ("config" -> config) ~
        ("config_hash" -> configHash(kind, config)) ~
        ("data_md5" -> dataChecksum(spark, path))))
    val fs = hadoopFs(spark, path)
    val out = fs.create(manifestPath(path), true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** The manifest at `path`, or None if absent/unreadable. Returns
    * (kind, format, config, configHash, dataMd5). */
  def readManifest(spark: SparkSession, path: String)
      : Option[(String, Int, Map[String, String], String, Option[String])] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val fs = hadoopFs(spark, path)
      if (!fs.exists(manifestPath(path))) return None
      val in = fs.open(manifestPath(path))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val j = JsonMethods.parse(text)
      implicit val fmts: Formats = DefaultFormats
      Some(((j \ "kind").extract[String], (j \ "format").extract[Int],
        (j \ "config").extract[Map[String, String]],
        (j \ "config_hash").extract[String],
        (j \ "data_md5").extractOpt[String]))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** True iff a valid artifact of `kind` trained under exactly
    * `config` (same format version) sits at `path` AND its data files
    * hash to the manifest's recorded checksum — a tampered or
    * truncated data directory reads as "no artifact" and re-trains
    * rather than serving planted rows. */
  def matches(spark: SparkSession, path: String, kind: String,
      config: Map[String, String]): Boolean =
    readManifest(spark, path).exists { case (k, f, _, h, d) =>
      k == kind && f == FormatVersion &&
        h == configHash(kind, config) &&
        d.nonEmpty && d == dataChecksum(spark, path)
    }

  /** Persist an artifact table + manifest (overwrites in place). */
  def save(df: DataFrame, path: String, kind: String,
      config: Map[String, String]): Unit = {
    val spark = df.sparkSession
    // data first, manifest last: a crash mid-save leaves no manifest,
    // so loadOrTrain treats the directory as absent and re-trains; the
    // manifest then records the just-written files' checksum
    val fs = hadoopFs(spark, path)
    fs.delete(manifestPath(path), false)
    df.write.mode("overwrite").parquet(dataPath(path))
    writeManifest(spark, path, kind, config)
  }

  /** Read an artifact table back, verifying kind + format version and
    * (when the manifest records one) the data-file checksum. */
  def load(spark: SparkSession, path: String, kind: String): DataFrame = {
    val m = readManifest(spark, path).getOrElse(throw new
        IllegalArgumentException(s"no model manifest at $path"))
    require(m._1 == kind,
      s"artifact at $path is '${m._1}', expected '$kind'")
    require(m._2 == FormatVersion,
      s"artifact at $path has format ${m._2}, engine reads $FormatVersion")
    m._5.foreach { want =>
      val got = dataChecksum(spark, path)
      require(got.contains(want),
        s"artifact at $path fails its data checksum " +
          s"(manifest $want, files ${got.getOrElse("<unreadable>")})")
    }
    spark.read.parquet(dataPath(path))
  }

  // ---------------------------------------------------------------
  // BPE merge list (rank-ordered)
  // ---------------------------------------------------------------

  def saveBpe(spark: SparkSession, path: String, merges: Seq[String],
      config: Map[String, String]): Unit = {
    import spark.implicits._
    save(merges.zipWithIndex.map { case (m, r) => (r, m) }
      .toDF("rank", "merge"), path, "bpe_merges", config)
  }

  def loadBpe(spark: SparkSession, path: String): Seq[String] =
    load(spark, path, "bpe_merges").orderBy("rank")
      .collect().map(_.getString(1)).toSeq

  /** Train-once BPE: reuse the artifact at `path` when its config
    * (nMerges, vocabCap, corpus fingerprint) matches, else train and
    * persist. */
  def loadOrTrainBpe(docs: DataFrame, path: String,
      nMerges: Int = Bpe.DefaultMerges,
      vocabCap: Int = Bpe.DefaultVocabCap): Seq[String] = {
    val spark = docs.sparkSession
    val cfg = Map("n_merges" -> nMerges.toString,
      "vocab_cap" -> vocabCap.toString,
      "corpus" -> corpusFingerprint(docs, Seq("doc_id", "text")))
    if (matches(spark, path, "bpe_merges", cfg)) loadBpe(spark, path)
    else {
      val merges = Bpe.trainMergeList(docs, nMerges, vocabCap)
      saveBpe(spark, path, merges, cfg)
      merges
    }
  }

  // ---------------------------------------------------------------
  // Unigram-LM vocab (piece, usage, cost) — order preserved by rank
  // ---------------------------------------------------------------

  def saveUnigram(spark: SparkSession, path: String,
      model: Seq[(String, Long, Long)],
      config: Map[String, String]): Unit = {
    import spark.implicits._
    save(model.zipWithIndex.map { case ((p, u, c), r) => (r, p, u, c) }
      .toDF("rank", "piece", "usage", "cost"), path, "unigram_vocab",
      config)
  }

  def loadUnigram(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] =
    load(spark, path, "unigram_vocab").orderBy("rank")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

  def loadOrTrainUnigram(docs: DataFrame, path: String)
      : Seq[(String, Long, Long)] = {
    val spark = docs.sparkSession
    val cfg = Map(
      "corpus" -> corpusFingerprint(docs, Seq("doc_id", "text")))
    if (matches(spark, path, "unigram_vocab", cfg))
      loadUnigram(spark, path)
    else {
      val model = Unigram.trainModel(docs)
      saveUnigram(spark, path, model, cfg)
      model
    }
  }

  // ---------------------------------------------------------------
  // Language-ID n-gram grid (one row: the whole dense model)
  // ---------------------------------------------------------------

  def saveLangId(spark: SparkSession, path: String, m: LangIdModel,
      config: Map[String, String]): Unit = {
    import spark.implicits._
    save(Seq((m.buckets, m.langs, m.lnb, m.lcFlat.toSeq, m.seen.toSeq))
      .toDF("buckets", "langs", "lnb", "lc_flat", "seen"),
      path, "langid_ngram", config)
  }

  def loadLangId(spark: SparkSession, path: String): LangIdModel = {
    val r = load(spark, path, "langid_ngram").head()
    LangIdModel(r.getInt(0), r.getSeq[String](1), r.getSeq[Long](2),
      r.getSeq[Long](3).toArray, r.getSeq[Boolean](4).toArray)
  }

  def loadOrTrainLangId(docs: DataFrame, path: String,
      buckets: Int = TextAnalysis.LangIdBuckets): LangIdModel = {
    val spark = docs.sparkSession
    val cfg = Map("buckets" -> buckets.toString,
      "corpus" -> corpusFingerprint(docs, Seq("doc_id", "text", "lang")))
    if (matches(spark, path, "langid_ngram", cfg)) loadLangId(spark, path)
    else {
      val m = TextAnalysis.langIdModel(docs, buckets)
      saveLangId(spark, path, m, cfg)
      m
    }
  }

  // ---------------------------------------------------------------
  // IVF coarse-quantizer centroids (label, cvec) / PQ codebooks
  // (sub, label, cvec) — persisted as the trainer's own table shape
  // ---------------------------------------------------------------

  def saveIvfCentroids(centroids: DataFrame, path: String,
      config: Map[String, String]): Unit =
    save(centroids.select("label", "cvec"), path, "ivf_centroids", config)

  def loadIvfCentroids(spark: SparkSession, path: String): DataFrame =
    load(spark, path, "ivf_centroids")

  def loadOrTrainIvfCentroids(embeddings: DataFrame, path: String,
      iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val cfg = Map("iters" -> iters.toString,
      "corpus" -> corpusFingerprint(embeddings,
        Seq("vec_id", "label", "embedding")))
    if (matches(spark, path, "ivf_centroids", cfg))
      loadIvfCentroids(spark, path)
    else {
      val cents = Similarity.ivfCentroidsRefined(embeddings, iters)
      saveIvfCentroids(cents, path, cfg)
      loadIvfCentroids(spark, path)
    }
  }

  def savePqCodebooks(codebooks: DataFrame, path: String,
      config: Map[String, String]): Unit =
    save(codebooks.select("sub", "label", "cvec"), path, "pq_codebooks",
      config)

  def loadPqCodebooks(spark: SparkSession, path: String): DataFrame =
    load(spark, path, "pq_codebooks")

  def loadOrTrainPqCodebooks(embeddings: DataFrame, path: String,
      m: Int, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val cfg = Map("m" -> m.toString, "iters" -> iters.toString,
      "corpus" -> corpusFingerprint(embeddings,
        Seq("vec_id", "label", "embedding")))
    if (matches(spark, path, "pq_codebooks", cfg))
      loadPqCodebooks(spark, path)
    else {
      val cb = Similarity.pqCodebooksRefined(embeddings, m, iters)
      savePqCodebooks(cb, path, cfg)
      loadPqCodebooks(spark, path)
    }
  }

  /** Default artifact root for a given corpus directory — keyed by an
    * md5 of the dir string so two scale factors never share artifacts
    * (the corpus fingerprint still guards content changes).
    *
    * Rooted under `$GRAFT_MODELS_DIR` when set (production: point it
    * at the data lake next to the corpus), else the user's own
    * `~/.cache/graft_models` — NOT the world-writable `/tmp`, where
    * another local user could pre-plant a directory and the OS tmp
    * reaper silently discards artifacts. The manifest's `data_md5`
    * additionally binds the manifest to the exact data files. */
  def defaultRoot(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      .take(12)
    val base = sys.env.get("GRAFT_MODELS_DIR").filter(_.nonEmpty)
      .getOrElse(sys.props.get("user.home").filter(_.nonEmpty)
        .map(_ + "/.cache/graft_models")
        .getOrElse("/tmp/graft_models"))
    s"$base/$h"
  }

  // ---------------------------------------------------------------
  // Retention: the store writes one directory per config hash forever
  // under config churn; list/prune are the operator's GC.
  // ---------------------------------------------------------------

  /** Every artifact under `root` (any nesting depth that holds a
    * manifest.json): (path, kind, configHash, manifest mtime millis),
    * newest first. Walks directories, not data files. */
  def listArtifacts(spark: SparkSession, root: String)
      : Seq[(String, String, String, Long)] = {
    val fs = hadoopFs(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)]
    def walk(dir: Path): Unit = {
      val mf = new Path(dir, "manifest.json")
      if (fs.exists(mf)) {
        readManifest(spark, dir.toString).foreach { case (k, _, _, h, _) =>
          out += ((dir.toString, k, h,
            fs.getFileStatus(mf).getModificationTime))
        }
      } else
        fs.listStatus(dir).filter(_.isDirectory)
          .foreach(s => walk(s.getPath))
    }
    walk(rootPath)
    out.sortBy(-_._4).toSeq
  }

  /** Keep the newest `keepPerKind` artifacts of each (parent
    * directory, kind) group under `root`, delete the rest (whole
    * directories). Returns the deleted paths. The kind grouping
    * matches how loadOrTrain* churns: every config/corpus drift
    * writes a NEW hash directory of the same kind, so keep-latest-N
    * bounds the store while retaining rollback depth. Grouping by the
    * artifact's PARENT keeps corpora independent: under the
    * [[defaultRoot]] layout every corpus/scale-factor hashes to its
    * own subdirectory, and pruning from the shared base must never
    * let one corpus's churn delete another corpus's only current
    * artifact (which would force a retrain there). */
  def prune(spark: SparkSession, root: String,
      keepPerKind: Int): Seq[String] = {
    require(keepPerKind >= 1, s"keepPerKind ($keepPerKind) must be >= 1")
    val fs = hadoopFs(spark, root)
    listArtifacts(spark, root)
      .groupBy(a => (new Path(a._1).getParent.toString, a._2))
      .toSeq.flatMap { case (_, arts) =>
        arts.sortBy(-_._4).drop(keepPerKind)
      }
      .map(_._1)
      .filter(p => fs.delete(new Path(p), true))
  }

  /** `runMain graft.pipeline.Models list [root]` /
    * `... prune [root] [keepPerKind]` — root defaults to the
    * [[defaultRoot]] base directory. */
  def main(args: Array[String]): Unit = {
    val cmd = args.lift(0).getOrElse("list")
    val root = args.lift(1).getOrElse(
      new Path(defaultRoot("x")).getParent.toString)
    val spark = graft.LocalSession()
    try cmd match {
      case "list" =>
        val arts = listArtifacts(spark, root)
        if (arts.isEmpty) println(s"no artifacts under $root")
        arts.foreach { case (p, k, h, t) =>
          println(f"$k%-16s ${java.time.Instant.ofEpochMilli(t)}  $h  $p")
        }
      case "prune" =>
        val keep = args.lift(2).map(_.toInt).getOrElse(3)
        val deleted = prune(spark, root, keep)
        deleted.foreach(p => println(s"deleted $p"))
        println(s"pruned ${deleted.size} artifact(s), kept newest " +
          s"$keep per kind under $root")
      case other =>
        System.err.println(s"usage: Models list|prune [root] [keepPerKind]" +
          s" (got '$other')")
        sys.exit(2)
    } finally spark.stop()
  }
}
