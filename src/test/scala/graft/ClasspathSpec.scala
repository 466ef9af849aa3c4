package graft

import java.io.File
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The classpath order the build sets (build.sbt, `Compile /
  * unmanagedJars`): the engine's jars first, and no class resolving to
  * a different jar because of it. Read from this forked JVM's own
  * `java.class.path`, which sbt builds the same way as `run`'s. */
class ClasspathSpec extends AnyFunSuite {

  private val engine = Seq("scala-library-", "scala-reflect-", "spark-")

  private def moved(jar: File): Boolean =
    engine.exists(jar.getName.startsWith)

  /** The jars of the directory that holds spark-core, in classpath
    * order: the unmanaged jars the build partitions. */
  private lazy val jars: Seq[File] = {
    val cp = System.getProperty("java.class.path").split(File.pathSeparator)
      .toSeq.map(new File(_))
    val core = cp.find(_.getName.startsWith("spark-core_"))
      .getOrElse(fail("no spark-core jar on the classpath"))
    cp.filter(f => f.getParentFile == core.getParentFile && f.getName.endsWith(".jar"))
  }

  test("scala-library, scala-reflect and every spark-* jar come before " +
    "every other jar of the Spark directory") {
    val (first, rest) = jars.span(moved)
    assert(first.exists(_.getName.startsWith("scala-library-")))
    assert(first.exists(_.getName.startsWith("scala-reflect-")))
    assert(first.count(_.getName.startsWith("spark-")) > 10)
    val late = rest.filter(moved)
    assert(late.isEmpty, late.map(_.getName).mkString("after another jar: ", ", ", ""))
  }

  test("no class or service file outside META-INF/versions/ is held both " +
    "by a jar that moved and by one that stayed") {
    def entries(jar: File): Set[String] = {
      val z = new ZipFile(jar)
      try z.entries().asScala.map(_.getName).filter(n =>
        !n.startsWith("META-INF/versions/") &&
          (n.endsWith(".class") || n.startsWith("META-INF/services/")) &&
          !n.endsWith("/")).toSet
      finally z.close()
    }
    val (first, rest) = jars.partition(moved)
    val ahead = first.flatMap(entries).toSet
    val shadowed = rest.flatMap(j => entries(j).intersect(ahead).map(e => s"${j.getName}: $e"))
    assert(shadowed.isEmpty, shadowed.take(20).mkString("\n", "\n", ""))
  }
}
