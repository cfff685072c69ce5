package graft

import org.apache.spark.sql.functions._

/** Shared intermediates never outlive their call. Every query whose
  * operator caches a frame leaves the session's cache manager empty, a
  * call that throws inside a `Materialize.shared` scope releases what
  * the scope cached, and a lazy result from a scope body is refused. */
class CacheReleaseSpec extends SparkSpec {
  private val sf01 = sf.stripSuffix("sf0.001") + "sf0.01"
  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** Query-number prefixes of the operators that cache a shared frame. */
  private val caching = Seq("q22", "q23", "q24", "q54", "q85", "q87", "q91", "q97",
    "q119", "q148", "q162", "q176", "q182", "q187", "q188")

  test("every caching query at sf0.01 leaves the cache manager empty") {
    val names = SparkEntry.queries.keys.filter(k => caching.contains(k.takeWhile(_ != '_')))
      .toSeq.sorted
    assert(names.size == caching.size, s"expected one query per prefix, got $names")
    for (name <- names) {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sf01).collect()
      assert(cacheEmpty, s"$name left a cached frame in the session")
    }
  }

  // each throwing call shares its shingle index before the argument
  // check that throws

  test("q22 with threshold 0 throws and releases its shingle index") {
    spark.catalog.clearCache()
    intercept[IllegalArgumentException](ops.Dedup.jaccardNearDup(spark, sf01, threshold = 0.0))
    assert(cacheEmpty, "q22's shingle index outlived the failed call")
  }

  test("q23 with 7 hashes in bands of 2 throws and releases its shingle index") {
    spark.catalog.clearCache()
    intercept[IllegalArgumentException](
      ops.Dedup.minhashLsh(spark, sf01, numHashes = 7, bandRows = 2))
    assert(cacheEmpty, "q23's shingle index outlived the failed call")
  }

  test("Materialize.shared caches for its body, refuses a lazy result and always releases") {
    spark.catalog.clearCache()
    val df = spark.range(10).toDF("x")
    assert(ops.Materialize.shared(df)(_ => !cacheEmpty), "the body must see its frame cached")
    assert(cacheEmpty)
    val e = intercept[IllegalStateException](
      ops.Materialize.shared(df)(_.filter(col("x") > 3)))
    assert(e.getMessage.contains("lazy plan"))
    assert(cacheEmpty, "a refused result must still release the cache")
    // eager results pass: a checkpoint, a sliver, and any non-Dataset value
    val ckpt = ops.Materialize.shared(df)(_.filter(col("x") > 3).localCheckpoint(true))
    assert(ckpt.count() == 6L)
    val sliced = ops.Materialize.shared(df)(d =>
      ops.Materialize.sliver(d.filter(col("x") < 4))(count(lit(1)).as("n"))._1)
    assert(sliced.count() == 4L)
    assert(ops.Materialize.shared(df)(_.count()) == 10L)
    assert(cacheEmpty)
  }
}
