package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** No main source swallows fatal errors: a `case _: Throwable` catch
  * also eats OutOfMemoryError, InterruptedException and friends, which
  * must reach the JVM. Catch `NonFatal(_)` instead. */
class CatchDisciplineSpec extends AnyFunSuite {

  test("no `case _: Throwable` catch in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not $root")
    val pattern = """case\s+_\s*:\s*Throwable\b""".r
    val stream = Files.walk(root)
    val hits = try {
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if pattern.findFirstIn(line).isDefined =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
    } finally stream.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
