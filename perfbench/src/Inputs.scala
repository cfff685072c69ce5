package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageType

/** The benchmark's inputs: the ten testdata tables of one scale, bundled
  * unchanged under `perfbench/data/<scale>` (TESTDATA.md: seed 42, one
  * `<table>.parquet` file per table), copied into the run's input
  * directory.
  *
  * `docReplicas > 1` replaces documents and embeddings with
  * `graft.ScaleGen`'s disjoint-replica construction of them, with the
  * benchmark seed in it: replica r offsets the ids past the source's key
  * range, prefixes every token with a seed-salted replica tag (so
  * replicas share no shingles and each keeps the source's near-duplicate
  * structure) and moves embedding coordinate i by
  * `r * scale * ((i % 5) - 2)`, with a seeded `scale`, so copies drift
  * apart. The other eight tables are copied as they are. Replicas are
  * read and written with parquet's own reader and writer, in the source
  * files' schema, so preparing the inputs submits no Spark job; the same
  * (seed, docReplicas) always writes the same rows. */
object Inputs {
  final case class TableStat(name: String, rows: Long, bytes: Long)

  def prepare(src: String, dir: String, seed: Long, docReplicas: Int): Seq[TableStat] = {
    Files.createDirectories(Paths.get(dir))
    val generated = if (docReplicas > 1) Set("documents", "embeddings") else Set.empty[String]
    for (t <- graft.Tables.names if !generated(t))
      Files.copy(Paths.get(src, s"$t.parquet"), Paths.get(dir, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    if (docReplicas > 1) replicate(src, dir, seed, docReplicas)
    graft.Tables.names.map { t =>
      val file = s"$dir/$t.parquet"
      // the row count from the parquet footer: no Spark job
      val rows = scala.util.Using.resource(ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(file), new Configuration())))(_.getRecordCount)
      TableStat(t, rows, Files.size(Paths.get(file)))
    }
  }

  private def replicate(src: String, dir: String, seed: Long, reps: Int): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val salt = rnd.nextInt(1 << 20)
    val scale = 0.002 + rnd.nextDouble() * 0.002
    val (docSchema, docs) = read(s"$src/documents.parquet")
    val (embSchema, emb) = read(s"$src/embeddings.parquet")
    val off = (docs.map(_.getLong("doc_id", 0)) ++ emb.map(_.getLong("vec_id", 0))).max + 1L
    write(s"$dir/documents.parquet", docSchema, for (r <- 0 until reps; d <- docs) yield {
      val g = new SimpleGroup(docSchema)
      val text = d.getString("text", 0).replaceAll("(\\S+)", s"r${r}s$salt-$$1")
      g.add("doc_id", d.getLong("doc_id", 0) + r * off)
      g.add("text", text)
      for (c <- Seq("lang", "source") if d.getFieldRepetitionCount(c) > 0)
        g.add(c, d.getString(c, 0))
      // the prefix changes every token, so n_chars is recomputed
      g.add("n_chars", text.codePointCount(0, text.length).toLong)
      g
    })
    write(s"$dir/embeddings.parquet", embSchema, for (r <- 0 until reps; e <- emb) yield {
      val g = new SimpleGroup(embSchema)
      g.add("vec_id", e.getLong("vec_id", 0) + r * off)
      val in = e.getGroup("embedding", 0)
      val out = g.addGroup("embedding")
      for (i <- 0 until in.getFieldRepetitionCount("list")) {
        val x = in.getGroup("list", i).getFloat("element", 0)
        out.addGroup("list").append("element", (x + r * scale * ((i % 5) - 2)).toFloat)
      }
      if (e.getFieldRepetitionCount("label") > 0) g.add("label", e.getInteger("label", 0))
      g
    })
  }

  private def read(file: String): (MessageType, Vector[Group]) = {
    val schema = scala.util.Using.resource(ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), new Configuration())))(
      _.getFooter.getFileMetaData.getSchema)
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(file)).build()
    try (schema, Iterator.continually(reader.read()).takeWhile(_ != null).toVector)
    finally reader.close()
  }

  /** Writes `rows` as the single file `file`, the testdata layout that the
    * streaming sources' file-name globs and the oracle expect. */
  private def write(file: String, schema: MessageType, rows: Seq[Group]): Unit = {
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(file)))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach(writer.write) finally writer.close()
  }
}
