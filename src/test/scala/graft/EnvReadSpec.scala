package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Regression guard against env-var switches in the engine and its tests.
  * Environment reads belong to the entry points that size a run (`Bench`,
  * `Verify`, `SubmitMain`); anywhere else an env switch is hidden
  * configuration that no test or benchmark sets, and in Scala 2.13 each
  * `sys.env` call also copies the whole environment into a new Map, which
  * costs real time on a per-key or per-row path. Tests get no env switches either: a test's behaviour is
  * fixed by its source. This file is allow-listed only for the mentions in
  * this comment and in the pattern below.
  */
class EnvReadSpec extends AnyFunSuite {

  private val root = Paths.get("src")
  private val allowed = Set(
    "main/scala/graft/Bench.scala", "main/scala/graft/Verify.scala",
    "main/scala/graft/SubmitMain.scala",
    "test/scala/graft/EnvReadSpec.scala")
  private val envRead = """\bsys\.env\b|\bSystem\.getenv\b""".r

  test("only the allow-listed sources read environment variables") {
    assert(Files.isDirectory(root.resolve("main/scala/graft")) &&
      Files.isDirectory(root.resolve("test/scala/graft")),
      s"source roots under $root not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.nonEmpty)
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val bad = for {
      f <- files.sortBy(rel) if !allowed(rel(f))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, s"\nenv read outside the allow-list:\n${bad.mkString("\n")}")
  }
}
