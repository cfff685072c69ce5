package graft

/** [[Tuning.CodegenCacheEntries]] by its effect: a session-long working
  * set of generated classes stays compiled. At Spark's default of 100
  * entries, every class the library generates between two runs of one
  * op pushes that op's classes out of the LRU cache, so each warm run
  * compiles them again. The conf string alone proves nothing: Spark
  * sizes the cache once per JVM, from the session active when code is
  * first generated. [[Tuning.ArtifactIsolationKey]] likewise, by its
  * effect: streaming runs find the classes earlier runs compiled. */
class CodegenCacheSpec extends SparkSpec {

  /** Classes one full-plan run compiled. */
  private def compiles(label: String)(df: => org.apache.spark.sql.DataFrame): Long =
    Harness.time(spark, label)(df).get.compiles

  private def op(q: String): Long = compiles(q)(SparkEntry.queries(q)(spark, sf))

  test("a repeated op compiles nothing after more than 100 other classes were compiled") {
    val first = "q21_dedup_exact"
    op(first)
    // real ops first; then projections whose inlined literal makes each
    // one's generated class new to this JVM, so the insertions between
    // the two runs of `first` exceed the default cache whatever earlier
    // suites left in it
    val nonce = System.nanoTime()
    val between = op("q155_embedding_neardup_ivf") + op("q54_dedup_clusters") +
      (1 to 150).map(i => compiles(s"filler$i")(spark.range(4).selectExpr(s"id * ${nonce + i} AS v"))).sum
    assert(between > 150, s"only $between classes compiled between the two runs")
    val again = op(first)
    assert(again == 0, s"$first recompiled $again classes after $between others: " +
      s"the codegen cache is smaller than ${Tuning.CodegenCacheKey} = ${Tuning.CodegenCacheEntries}")
  }

  test("a second run of every streaming query compiles nothing") {
    val streams = SparkEntry.queries.keys.filter(_.contains("_stream_")).toSeq.sorted
    assert(streams.size == 10, s"expected the ten streaming queries, got ${streams.mkString(", ")}")
    val recompiled = streams.map { q => op(q); q -> op(q) }.filter(_._2 != 0)
    assert(recompiled.isEmpty, s"second runs compiled classes again: ${recompiled.mkString(", ")}; " +
      s"each stream run gets its own class loader unless ${Tuning.ArtifactIsolationKey} is false")
  }
}
