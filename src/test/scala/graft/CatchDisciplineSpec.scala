package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Lines of the main sources matching a pattern, as `file:line: text`. */
private object SourceScan {
  def hits(pattern: Regex): Seq[String] = {
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
}

/** No main source swallows fatal errors: a `case _: Throwable` or
  * `case e: Throwable` catch also eats OutOfMemoryError,
  * InterruptedException and friends, which must reach the JVM. Catch
  * `NonFatal(_)` / `NonFatal(e)` instead; code that must clean up on
  * every failure uses `finally`. */
class CatchDisciplineSpec extends AnyFunSuite {
  import SourceScan.hits

  test("no `case _: Throwable` catch in src/main/scala") {
    val found = hits("""case\s+_\s*:\s*Throwable\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no named `case e: Throwable` catch in src/main/scala") {
    val found = hits("""case\s+[A-Za-z]\w*\s*:\s*Throwable\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}

/** Keyed state has one owner: every keyed-state op is a step of the one
  * `StatefulProcessor` (graft.streaming.KeyedProcessor), so the state
  * handles, the row sort and the one-live-timer rule are written once.
  * A second processor, or a state or timer call outside its file,
  * re-forks that skeleton. */
class KeyedStateDisciplineSpec extends AnyFunSuite {
  import SourceScan.hits

  test("one StatefulProcessor in src/main/scala, and only its file " +
    "touches timers and state handles") {
    val processors = hits("""extends\s+StatefulProcessor\b""".r)
    assert(processors.size == 1, processors.mkString("\n", "\n", ""))
    val file = processors.head.takeWhile(_ != ':')
    val outside = hits(
      """\b(registerTimer|deleteTimer|getValueState|getListState)\b""".r)
      .filterNot(_.startsWith(file + ":"))
    assert(outside.isEmpty, outside.mkString("\n", "\n", ""))
  }
}
