package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The main sources, and their lines matching a pattern. */
private object SourceScan {
  /** Every Scala source under `dir`, with its lines. */
  def sources(dir: String = "src/main/scala"): Seq[(Path, Seq[String])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root, not $root")
    val stream = Files.walk(root)
    try {
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.map(p => (p, Files.readAllLines(p).asScala.toSeq))
    } finally stream.close()
  }

  /** Lines of the main sources matching `pattern`, as `file:line: text`. */
  def hits(pattern: Regex): Seq[String] =
    sources().flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
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

/** One event class: riemann passes whole event maps everywhere, so
  * graft.streaming declares one case class with the event's fields, and
  * no narrower copy of it, or conversion to one, comes back. */
class EventShapeDisciplineSpec extends AnyFunSuite {
  import SourceScan.{hits, sources}

  test("one event case class in graft.streaming, and no second event " +
    "shape or conversion to one in src/main/scala") {
    val prefix = ("""case\s+class\s+(\w+)\s*\(\s*host\s*:[^,]*,""" +
      """\s*service\s*:[^,]*,\s*state\s*:[^,]*,\s*metric\s*:[^,]*,""" +
      """\s*time\s*:[^,]*,\s*ttl\s*:""").r
    val shapes = sources("src/main/scala/graft/streaming").flatMap {
      case (p, lines) =>
        prefix.findAllMatchIn(lines.mkString("\n"))
          .map(m => s"$p: ${m.group(1)}")
    }
    assert(shapes.size == 1, shapes.mkString("\n", "\n", ""))
    val forks =
      hits("""\b(SEventX|toSEvent|carriesWholeEvents|wireShape)\b""".r)
    assert(forks.isEmpty, forks.mkString("\n", "\n", ""))
  }
}
