package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-provided testdata tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Schema rule: every read is `spark.read.schema(s).parquet(path)`, and
  * every stream source (`streaming.StreamingEvents.tableStream`) is
  * declared with the same `s`: the table's footer schema ([[schemaOf]])
  * inferred once and cached. Inference is a one-task Spark job (85–102 ms
  * per read of sf0.1 lineitem on a 4-core host, against 7–11 ms with the
  * schema given), so an uncached loader paid one job per call. The cache
  * key is the qualified path, the sorted files under it with their
  * lengths and modification times (one Hadoop listing per call), and the
  * session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` values: a
  * rewritten or added file, or a conf that changes how footers map to
  * types, infers again. Column pruning and predicate pushdown still
  * reach the scan (verify with `.explain`: `ReadSchema` /
  * `PushedFilters`). At cluster scale these same helpers would point at
  * partitioned table roots; nothing here assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped temp root for queries that physically write files as
    * part of execution (sinks, compaction, z-order): the app-id suffix
    * keeps concurrent sessions running the same query from overwriting
    * each other's files mid-read. */
  private[graft] def tmpPath(spark: SparkSession, name: String): String =
    s"target/tmp/${spark.sparkContext.applicationId}/$name"

  /** Footer schemas by (qualified path, parquet confs), each with the
    * file listing it was inferred from. One entry per path and conf set:
    * a changed listing replaces the entry. */
  private val schemas = new ConcurrentHashMap[(String, Seq[(String, String)]),
    (Seq[(String, Long, Long)], StructType)]()

  /** The footer schema of `dir`'s table `name`, cached (the schema rule
    * above). No lock is held across the inference job: two racing misses
    * both infer, and either result is the same schema. */
  private[graft] def schemaOf(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val listing = {
      val it = fs.listFiles(qualified, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = (qualified.toString, confs)
    Option(schemas.get(key)).collect {
      case (files, s) if files == listing => s
    }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(key, (listing, s))
      s
    }
  }

  /** `dir`'s table `name` read with its cached footer schema. */
  private def parquet(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, dir, name)

  /** Surfaces `events` with a microsecond TIMESTAMP_NTZ `ts` whichever
    * raw encoding the dir carries, read off the footer's `ts` type:
    * legacy TIMESTAMP(NANOS) surfaces as BIGINT ns under the session conf
    * `spark.sql.legacy.parquet.nanosAsLong=true` (which the session
    * BUILDER sets; loaders never mutate session conf), TIMESTAMP(MICROS)
    * as TIMESTAMP_NTZ. For NANOS the conversion is the same truncation
    * DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so oracle
    * comparisons stay exact. The events stream source branches on the
    * same cached footer type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = parquet(spark, dir, "events")
    raw.schema("ts").dataType match {
      // `ts div 1000` is integer division — ns epoch values exceed 2^53,
      // so double division (plain `/`) would lose up to ±256 ns and
      // shift some microseconds by one vs DuckDB's truncation.
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
    }
  }

  // Short-hand single-table loaders used throughout the query modules.
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact decimal view of a 2-dp double column. All money-ish columns in
    * the testdata carry ≤2 decimal digits; scale-6 decimal round-trips them
    * identically in Spark and DuckDB, making SUM/arithmetic order-independent
    * and hash-stable (double summation is not associative; decimal is).
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 6))

  /** Exact decimal → DOUBLE at the output boundary, via a LOSSLESS scale
    * reduction first (the inputs are ≤`scale`-dp exact, so the re-cast
    * never rounds). Why: a decimal whose unscaled value exceeds 2^53
    * converts to double with DOUBLE ROUNDING in engines that compute
    * int→double then ×10^-scale (DuckDB), diverging 1 ulp from Spark's
    * correctly-rounded BigDecimal path — observed on sum_disc_price at
    * sf0.1. Shrinking the scale keeps the unscaled value < 2^53, where
    * both conversions are exact. */
  def toDouble(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    c.cast(DecimalType(28, scale)).cast("double")
}
