package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Observing a metric on a checkpoint has one implementation,
  * `ops.Materialize.sliver`: it runs the checkpoint eagerly itself, so
  * no caller can pair an observation with a lazy checkpoint and block
  * forever on a metric that never fires. This scan keeps the idiom from
  * being hand-rolled again anywhere else in the library. */
class SourceGuardSpec extends AnyFunSuite {

  test("Observation, observe and lazy localCheckpoint appear only in Materialize.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val banned = Seq("Observation(", ".observe(", "localCheckpoint(false)")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
      .toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${i + 1}: $b"
    assert(hits.isEmpty, "use ops.Materialize.sliver instead:\n" + hits.mkString("\n"))
  }
}
