package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Idioms with one implementation, kept from being hand-rolled again.
  * Observing a metric on a checkpoint is `ops.Materialize.sliver`: it
  * runs the checkpoint eagerly itself, so no caller can pair an
  * observation with a lazy checkpoint and block forever on a metric that
  * never fires. Building a session is `Harness.session`, so every main
  * runs with the same tuning and confs. */
class SourceGuardSpec extends AnyFunSuite {

  /** `file:line: pattern` for each banned pattern in src/main/scala
    * outside the file named `home`. */
  private def hits(banned: Seq[String], home: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != home)
      .toSeq
    assert(files.nonEmpty, s"no sources under $root")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${i + 1}: $b"
  }

  test("Observation, observe and lazy localCheckpoint appear only in Materialize.scala") {
    val found = hits(Seq("Observation(", ".observe(", "localCheckpoint(false)"), "Materialize.scala")
    assert(found.isEmpty, "use ops.Materialize.sliver instead:\n" + found.mkString("\n"))
  }

  test("SparkSession.builder() appears only in Harness.scala") {
    val found = hits(Seq("SparkSession.builder()"), "Harness.scala")
    assert(found.isEmpty, "build sessions with Harness.session instead:\n" + found.mkString("\n"))
  }
}
