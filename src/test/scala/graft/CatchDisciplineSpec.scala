package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** No main source swallows fatal errors: a `case _: Throwable` or
  * `case e: Throwable` catch also eats OutOfMemoryError,
  * InterruptedException and friends, which must reach the JVM. Catch
  * `NonFatal(_)` / `NonFatal(e)` instead; code that must clean up on
  * every failure uses `finally`. */
class CatchDisciplineSpec extends AnyFunSuite {

  private def hits(pattern: Regex): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not $root")
    val stream = Files.walk(root)
    try {
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if pattern.findFirstIn(line).isDefined =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
    } finally stream.close()
  }

  test("no `case _: Throwable` catch in src/main/scala") {
    val found = hits("""case\s+_\s*:\s*Throwable\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no named `case e: Throwable` catch in src/main/scala") {
    val found = hits("""case\s+[A-Za-z]\w*\s*:\s*Throwable\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
