package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.LocalCheckpointFileManager

/** The java.nio checkpoint manager (r19 VERDICT #2): local checkpoint
  * metadata writes through Hadoop's FileContext cost ~50 ms each and
  * dominated stream latency; this manager must preserve the exact
  * rename-based contract HDFSMetadataLog depends on while being
  * ~50× cheaper. */
class LocalCheckpointSpec extends SparkSpec {

  private def mgr(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(
      new Path(dir.toUri), new Configuration(false))

  test("createAtomic: content is invisible until close, atomic-renamed " +
    "on close, and the staged temp never survives") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val m = mgr(dir)
    val target = new Path(dir.resolve("7").toUri)
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes("UTF-8"))
    assert(!m.exists(target), "target must not exist before close")
    out.close()
    assert(m.exists(target))
    val in = m.open(target)
    val buf = new Array[Byte](16)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "v1\n{}")
    // no .tmp leftovers
    import scala.jdk.CollectionConverters._
    val leftovers = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq
    assert(leftovers.isEmpty, s"staged temps leaked: $leftovers")
  }

  test("createAtomic(overwrite=false) throws FileAlreadyExists on close " +
    "when the target exists (HDFSMetadataLog's concurrent-writer " +
    "guard); overwrite=true replaces") {
    val dir = Files.createTempDirectory("graft-lcfm-ow")
    val m = mgr(dir)
    val target = new Path(dir.resolve("5").toUri)
    val a = m.createAtomic(target, overwriteIfPossible = false)
    a.write("first".getBytes); a.close()
    val b = m.createAtomic(target, overwriteIfPossible = false)
    b.write("second".getBytes)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](b.close())
    // the loser's temp is cleaned up
    import scala.jdk.CollectionConverters._
    assert(Files.list(dir).iterator().asScala
      .forall(!_.getFileName.toString.endsWith(".tmp")))
    val c = m.createAtomic(target, overwriteIfPossible = true)
    c.write("third".getBytes); c.close()
    assert(new String(Files.readAllBytes(
      Paths.get(target.toUri.getPath))) == "third")
  }

  test("cancel deletes the staged temp and leaves no target; " +
    "list/delete/mkdirs/isLocal behave like the stock manager") {
    val dir = Files.createTempDirectory("graft-lcfm-misc")
    val m = mgr(dir)
    assert(m.isLocal)
    val target = new Path(dir.resolve("9").toUri)
    val out = m.createAtomic(target, overwriteIfPossible = true)
    out.write("doomed".getBytes)
    out.cancel()
    assert(!m.exists(target))
    import scala.jdk.CollectionConverters._
    assert(Files.list(dir).iterator().asScala.toSeq.isEmpty)

    m.mkdirs(new Path(dir.resolve("sub").toUri))
    assert(Files.isDirectory(dir.resolve("sub")))
    for (i <- 0 until 3) {
      val o = m.createAtomic(new Path(dir.resolve(s"$i").toUri), true)
      o.write("x".getBytes); o.close()
    }
    val names = m.list(new Path(dir.toUri))
      .map(_.getPath.getName).toSet
    assert(Set("0", "1", "2", "sub").subsetOf(names))
    // listing a missing dir throws FileNotFound, as callers expect
    intercept[java.io.FileNotFoundException](
      m.list(new Path(dir.resolve("nope").toUri)))
    m.delete(new Path(dir.resolve("sub").toUri))
    assert(!Files.exists(dir.resolve("sub")))
    // deleting a missing path is a no-op, not an error
    m.delete(new Path(dir.resolve("nope").toUri))
  }

  test("a write on an interrupted thread (a query stop landing on a " +
    "checkpoint write) completes and leaves no temp file, so the " +
    "checkpoint stays startable") {
    val dir = Files.createTempDirectory("graft-lcfm-int")
    val m = mgr(dir)
    val target = new Path(dir.resolve("offsets").resolve("0").toUri)
    Thread.currentThread().interrupt()
    try {
      val out = m.createAtomic(target, overwriteIfPossible = false)
      out.write("v1".getBytes)
      out.close()
    } finally { Thread.interrupted(); () }
    import scala.jdk.CollectionConverters._
    assert(Files.list(dir.resolve("offsets")).iterator().asScala
      .map(_.getFileName.toString).toSeq == Seq("0"))
  }

  test("the tcp and udp servers make the manager their session's " +
    "default, as Core does") {
    val key = Core.CheckpointFileManagerKey
    for (server <- Seq[SparkSession => DataFrame](
        s => graft.sources.Sources.riemannTcpServer(s, "127.0.0.1", 1),
        s => graft.sources.Sources.riemannUdpServer(s, "127.0.0.1", 1))) {
      val session = spark.newSession()
      session.conf.unset(key)
      server(session) // builds the relation; nothing binds before start
      assert(session.conf.get(key) ==
        classOf[LocalCheckpointFileManager].getName)
    }
  }

  test("Core wires the manager as the session DEFAULT and respects a " +
    "user-set override") {
    val key = Core.CheckpointFileManagerKey
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      new Core(spark)
      assert(spark.conf.get(key) ==
        classOf[LocalCheckpointFileManager].getName)
      spark.conf.set(key, "com.example.Custom")
      new Core(spark)
      assert(spark.conf.get(key) == "com.example.Custom",
        "a user-set manager must not be overridden")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
