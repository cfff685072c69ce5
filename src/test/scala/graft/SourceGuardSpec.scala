package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Idioms with one implementation, kept from being hand-rolled again.
  * Observing a metric on a checkpoint is `ops.Materialize.sliver`: it
  * runs the checkpoint eagerly itself, so no caller can pair an
  * observation with a lazy checkpoint and block forever on a metric that
  * never fires. Building a session is `Harness.session`, so every main
  * runs with the same tuning and confs. Recording a run's events is
  * `Harness.Recorder.window`, whose sentinel fence is exact, so nothing
  * registers its own listener or polls the async listener bus with
  * sleeps. Running a streaming query is `StreamingEvents.drain`, which
  * drops the memory sink's temp view, and its sources read the cached
  * footer schema, so stream sources and writers live in one file. The
  * hot-key guards salt in two places, the gram family's `saltHotGrams`
  * and the CDC hot path, and detect through one resolver, `hotKeysFor`.
  * Caching a frame that several plan branches share is
  * `ops.Materialize.shared`, which releases it in a `finally` and
  * refuses a lazy result, so no call can leak its cache into the
  * session. Scoring a vector pair is `ops.Similarity.cosine`, whose
  * driver twin `cosOf` sits beside it, so every copy of the exact cosine
  * is the same expression bit for bit. Tokenizing text is
  * `ops.Dedup.tokens`, so every operator splits the same normal form.
  * No session adds artifacts (JARs, files, archives), which is what lets
  * `Tuning` switch artifact isolation off. */
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

  test("persist, unpersist, cache() and StorageLevel appear only in Materialize.scala") {
    val found = hits(Seq(".persist(", ".unpersist(", ".cache()", "StorageLevel"), "Materialize.scala")
    assert(found.isEmpty, "scope shared frames with ops.Materialize.shared instead:\n" + found.mkString("\n"))
  }

  test("SparkSession.builder() appears only in Harness.scala") {
    val found = hits(Seq("SparkSession.builder()"), "Harness.scala")
    assert(found.isEmpty, "build sessions with Harness.session instead:\n" + found.mkString("\n"))
  }

  test("listeners are registered, and sleeps appear, only in Harness.scala") {
    val found = hits(Seq("addSparkListener(", "listenerManager.register(", "Thread.sleep("), "Harness.scala")
    assert(found.isEmpty, "record run events with Harness.Recorder.window instead:\n" + found.mkString("\n"))
    val polls = Seq("src/main/scala/graft/Harness.scala", "src/test/scala/graft/SparkSpec.scala")
      .filter(f => Files.readString(Paths.get(f)).contains("Thread.sleep("))
    assert(polls.isEmpty, s"sleep-polls in ${polls.mkString(", ")}: fence with Harness.Recorder.window")
    val retired = hits(Seq("quiesce", "settledJobs", "leftover_"), "")
    assert(retired.isEmpty, "the fence made these repair paths unnecessary:\n" + retired.mkString("\n"))
  }

  test("stream sources, writers and AvailableNow appear only in StreamingEvents.scala; writeStream once") {
    val found = hits(Seq("writeStream", "readStream", "Trigger.AvailableNow"), "StreamingEvents.scala")
    assert(found.isEmpty, "run streaming queries with StreamingEvents.drain instead:\n" + found.mkString("\n"))
    val home = Paths.get("src/main/scala/graft/streaming/StreamingEvents.scala")
    val writers = "writeStream".r.findAllIn(Files.readString(home)).size
    assert(writers == 1, s"writeStream appears $writers times in $home: the one runner is drain")
  }

  test("the exact cosine is spelled once, in Similarity.cosine") {
    val inline = hits(Seq("sqrt(col("), "")
    assert(inline.isEmpty, "score vector pairs with ops.Similarity.cosine instead:\n" + inline.mkString("\n"))
    val kernels = hits(Seq("\")) * sqrt("), "")
    assert(kernels.size == 1 && kernels.forall(_.startsWith("graft/ops/Similarity.scala:")),
      "the product of square-rooted norms belongs to ops.Similarity.cosine only:\n" + kernels.mkString("\n"))
  }

  test("text splits into tokens only in Dedup.tokens") {
    val found = hits(Seq("split(Dedup.normText(", "split(normText(", "split(graft.ops.Dedup.normText("), "")
    assert(found.size == 1 && found.forall(_.startsWith("graft/ops/Dedup.scala:")),
      "tokenize with ops.Dedup.tokens instead:\n" + found.mkString("\n"))
  }

  test("salt columns appear twice and detectHotKeys is called once, all in Curation.scala") {
    val salts = hits(Seq("withColumn(\"salt\""), "")
    assert(salts.size == 2 && salts.forall(_.startsWith("graft/ops/Curation.scala:")),
      "salt gram streams with saltHotGrams; only the CDC hot path salts on its own:\n" + salts.mkString("\n"))
    def at(pattern: String) = hits(Seq(pattern), "").map(_.stripSuffix(s": $pattern")).toSet
    val calls = at("detectHotKeys(") -- at("def detectHotKeys(")
    assert(calls.size == 1 && calls.forall(_.startsWith("graft/ops/Curation.scala:")),
      "resolve hot keys with hotKeysFor, the one detection call:\n" + calls.mkString("\n"))
  }

  test("no session adds artifacts, so artifact isolation stays off safely") {
    val found = hits(Seq("addArtifact"), "")
    assert(found.isEmpty, s"Tuning sets ${Tuning.ArtifactIsolationKey}=false, which shares one class loader " +
      "across sessions; a session that adds artifacts needs it on:\n" + found.mkString("\n"))
  }
}
