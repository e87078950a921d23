package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source files stay text: a literal NUL byte makes git diff and grep
  * treat the whole file as binary, which hides its changes from review.
  * Write the escape (`"\u0000"`) instead. And query code never mutates
  * the live session: store drives run concurrently, so a conf set or a
  * strategy injected inside a query body races every other query. */
class SourceHygieneSpec extends AnyFunSuite {
  test("no file under src/ or scripts/ contains a NUL byte") {
    val files = Seq("src", "scripts").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith("SourceHygieneSpec.scala")),
      "the scan must run from the project root")
    val withNul = files.filter(f => Files.readAllBytes(f).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }

  test("no main source sets a session conf or assigns planner strategies outside Session") {
    // Session.scala builds the session; PlanReport is a dev program that
    // restores every conf it sets
    val exempt = Set("Session.scala", "PlanReport.scala")
    val s = Files.walk(Paths.get("src/main"))
    val files = try s.iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala")).toList
    finally s.close()
    assert(files.exists(_.endsWith("Session.scala")),
      "the scan must run from the project root")
    val mutation = """\.conf\.set\(|extraStrategies\s*=[^=]""".r
    val hits = for {
      f <- files if !exempt(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if mutation.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"session mutation in query code:\n${hits.mkString("\n")}")
  }
}
