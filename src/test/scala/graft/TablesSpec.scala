package graft

import org.apache.spark.sql.functions._

/** The loaders' schema rule: a table's footer schema is inferred once
  * and reused while its files are unchanged; a rewrite infers again. */
class TablesSpec extends SparkSpec {

  test("every testdata table reads with the schema inference gives it") {
    for (name <- Tables.names.filterNot(_ == "events")) {
      assert(Tables.load(spark, sf, name).schema ==
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("a second load of an unchanged table runs no job; a rewrite with a new column is seen") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tables_schema")
    try {
      val dir = base.toString
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$dir/region.parquet")
      val (first, _) = jobsOf("tables-schema-first")(Tables.region(spark, dir).schema)
      val (second, jobs) = jobsOf("tables-schema-second")(Tables.region(spark, dir).schema)
      assert(jobs.isEmpty, s"an unchanged table must reuse its schema, ran ${jobs.size} jobs")
      assert(second == first)
      assert(first == spark.read.parquet(s"$dir/region.parquet").schema)
      // same path, new files, one more column: the listing changed
      Seq((3L, "c", 7)).toDF("k", "s", "extra")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val again = Tables.region(spark, dir)
      assert(again.schema.fieldNames.toSeq == Seq("k", "s", "extra"))
      assert(again.select(col("extra")).as[Int].collect().toSeq == Seq(7))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
