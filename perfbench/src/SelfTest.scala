package perfbench

/** The benchmark's own checks; run with `python3 perfbench/selftest.py`. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => Any = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"}  $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("self time subtracts the union of the children, clipped to the span",
      Spans.selfTime(0, 100, Seq((10, 30), (20, 40), (90, 120), (-5, 5))) == 55,
      Spans.selfTime(0, 100, Seq((10, 30), (20, 40), (90, 120), (-5, 5))))
    check("self time of a span without children is its duration",
      Spans.selfTime(5, 8, Nil) == 3)

    val cwd = new java.io.File(".").getCanonicalPath
    val data = args(0)
    val dir = s"$cwd/inputs"
    val spark = Main.session(2, s"$cwd/spark-local")
    try {
      Inputs.prepare(data, dir, 7L, 1)
      def rows(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")
      val reps = (0 until 3).map { i =>
        val d = s"$cwd/replicas$i"
        Inputs.prepare(data, d, if (i < 2) 7L else 8L, 2)
        d
      }
      val docs = rows(reps(0), "documents")
      check("replicas double documents and embeddings and keep ids distinct",
        Seq("documents" -> "doc_id", "embeddings" -> "vec_id").forall { case (t, id) =>
          val r = rows(reps(0), t)
          r.count() == 2 * rows(data, t).count() && r.select(id).distinct().count() == r.count()
        })
      import org.apache.spark.sql.functions.{col, exists, split}
      val untagged = docs.filter(exists(split(col("text"), "\\s+"),
        w => w =!= "" && !w.rlike("^r[01]s[0-9]+-"))).count()
      val tags = docs.selectExpr("substring_index(text, '-', 1)").distinct().count()
      check("every token carries its replica's seed-salted tag", untagged == 0 && tags == 2,
        s"$untagged untagged docs, $tags tags")
      check("the same seed prepares the same rows",
        Seq("documents", "embeddings").forall(t =>
          rows(reps(0), t).exceptAll(rows(reps(1), t)).isEmpty))
      check("another seed prepares other rows",
        !rows(reps(0), "documents").exceptAll(rows(reps(2), "documents")).isEmpty)

      val docsFile = s"$dir/documents.parquet"
      val docsScan = spark.read.parquet(docsFile).select("doc_id")
      docsScan.queryExecution.toRdd.count()
      val counted = Tracer.scansAndExchanges(docsScan.queryExecution.executedPlan)
      check("a file scan counts the bytes of the files it covers",
        counted.scans == 1 && counted.scanBytes == java.nio.file.Files.size(
          java.nio.file.Paths.get(docsFile)), counted)

      val ok: Main.Fn = (s, _) => s.range(100).toDF()
      val slowThrow: Main.Fn = (_, _) => { Thread.sleep(500); throw new IllegalStateException("boom") }
      val p = Main.runPass(spark, dir, Seq(Op("ok", "etl") -> ok, Op("boom", "etl") -> slowThrow),
        Map.empty, None, "throw")
      check("a throwing op counts as failed", p.ops.map(_.ok) == Seq(true, false), p.ops)
      check("a throwing op's time to throw is not counted in the pass",
        p.ops(1).seconds >= 0.5 && p.seconds == p.ops.head.seconds,
        s"pass ${p.seconds} s, ops ${p.ops.map(_.seconds)}")
      val wrong = Main.runPass(spark, dir, Seq(Op("ok", "etl") -> ok), Map("ok" -> 99L), None, "rows")
      check("a row count other than the verified one counts as failed",
        wrong.ops.head.error.exists(_.contains("verified 99")), wrong.ops.head.error)

      val ops = Seq(Op("q03_left_join", "etl"), Op("q21_dedup_exact", "ops.dedup"),
        Op("q97_pagerank", "ops.graph")).map(o => o -> graft.SparkEntry.queries(o.query))
      val counts = (0 until 2).map { i =>
        val tracer = new Tracer(spark)
        val pass = try Main.runPass(spark, dir, ops, Map.empty, Some(tracer), s"pass$i")
          finally tracer.stop()
        Main.passMetrics(pass).filter { case (k, _) =>
          Seq(".jobs", ".scans", ".exchanges").exists(k.endsWith) }
      }
      check("traced passes attribute jobs and scans to the called layers",
        Seq("etl", "ops.dedup", "ops.graph").forall(l =>
          counts.head(s"$l.jobs") > 0 && counts.head(s"$l.scans") > 0), counts.head)
      check("jobs, scans and exchanges per layer repeat across two passes",
        counts(0) == counts(1), (counts(0).toSet diff counts(1).toSet))
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
