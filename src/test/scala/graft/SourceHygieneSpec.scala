package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source files stay text: a literal NUL byte makes git diff and grep
  * treat the whole file as binary, which hides its changes from review.
  * Write the escape (`"\u0000"`) instead. */
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
}
