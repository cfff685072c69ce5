package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + helpers for all suites. One session per JVM
  * (suites run in the forked test JVM; Spark sessions are expensive). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Fast-loop scale factor for data-driven specs. */
  val sf: String = "/root/testdata/sf0.001"

  /** (result, ids of the jobs `body` ran) under job group `group`: the
    * jobs of the shared recorder's window that carry the group. */
  def jobsOf[T](group: String)(body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val (out, w) = SparkSpec.recorder.window {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    (out, w.jobs.filter(_.group == group).map(_.id).toSet)
  }

  /** Order-insensitive DataFrame equality on collected rows. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val ca = a.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val cb = b.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(ca == cb, s"row multisets differ: only-left=${(ca.keySet -- cb.keySet).take(3)} only-right=${(cb.keySet -- ca.keySet).take(3)}")
  }

  /** Brute-force exact-jaccard near-dup pairs at threshold `t` — THE
    * semantic ground truth for the q22/q23 family, defined once so every
    * suite asserts against the same shingling. */
  def bruteJaccard(t: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(graft.ops.Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(0, size(toks)-3),
          |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
          |  ELSE array() END""".stripMargin).as("sh"))
    docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("size(array_intersect(a.sh, b.sh))").cast("double")
          ./(expr("size(array_union(a.sh, b.sh))")).as("jaccard"))
      .filter(col("jaccard") >= t)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tuning.tune(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — session conf, set at build
      // time like Verify/Bench do (loaders never mutate session conf)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The recorder every suite's windows run on. */
  lazy val recorder: Harness.Recorder = new Harness.Recorder(session)
}
