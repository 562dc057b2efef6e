package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for where session settings come from. graft derives a
  * session in one place ([[graft.operators.Tuned]]) and sets AQE only
  * there and in the session factory ([[graft.api.GraftSession]]), so a
  * pin on an op is always one of Tuned's audited conf lists. Operators
  * read no environment variables: an env read inside an op would
  * change its plan invisibly to the caller and to the plan audits. */
class SessionLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, line number, line) for every
    * line of every main source under `sub` that matches `pattern`. */
  private def hits(sub: String, pattern: String): Seq[(String, Int, String)] = {
    assert(Files.isDirectory(mainRoot),
      s"main source root missing: ${mainRoot.toAbsolutePath}")
    val re = pattern.r
    val files = Files.walk(mainRoot.resolve(sub)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield (mainRoot.relativize(f).toString, i + 1, line.trim)
  }

  private def render(bad: Seq[(String, Int, String)]): String =
    bad.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n")

  test("sessions are derived and AQE is set only in Tuned and GraftSession") {
    val allowed = Set("graft/operators/Tuned.scala", "graft/api/GraftSession.scala")
    Seq("""newSession\s*\(""", """spark\.sql\.adaptive\.enabled""").foreach { p =>
      val bad = hits("", p).filterNot(h => allowed(h._1))
      if (bad.nonEmpty) fail(s"/$p/ outside ${allowed.mkString(", ")}:\n${render(bad)}")
    }
  }

  test("no operator reads the environment") {
    val bad = hits("graft/operators", """sys\.env\b|System\.getenv""")
    if (bad.nonEmpty) fail(s"environment reads under graft/operators:\n${render(bad)}")
  }
}
