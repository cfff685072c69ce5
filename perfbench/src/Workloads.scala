package perfbench

/** One benchmark op: a `graft.SparkEntry.queries` key, and the layer —
  * the module owning the public function that entry calls — its
  * per-layer metrics are charged to. */
final case class Op(query: String, layer: String)

/** `source` names the bundled testdata scale the inputs come from
  * (`perfbench/data/<source>`), and `docReplicas` the number of disjoint
  * replicas of its documents and embeddings the inputs carry
  * ([[Inputs]]); 1 leaves them as they are. A run measures `warmPasses`
  * warm passes: a count, not a deadline, because pass times keep falling
  * for several passes as the JIT warms up, and a run that fitted one
  * more pass in would report another point of that curve. */
final case class Workload(name: String, source: String, docReplicas: Int, warmPasses: Int,
                          ops: Seq[Op])

/** The named workloads. Each is a closed loop: one client runs the ops
  * one after another, and the next op starts only when the previous one
  * has finished. The cold pass runs the ops in the order listed here,
  * the warm passes in a seeded order. Every layer the per-layer metrics
  * name is exercised by one of them. */
object Workloads {
  val Layers: Seq[String] = Seq("etl", "sources", "streaming", "ops.dedup",
    "ops.textanalysis", "ops.curation", "ops.similarity", "ops.clusters", "ops.graph")

  val all: Seq[Workload] = Seq(
    // the reference's scrape-join-normalize-upsert dataflow plus sinks and
    // streaming ingest: many short jobs and writes beside reads; no ops.* code
    Workload("etl_ingest", "sf0.1", docReplicas = 1, warmPasses = 3,
      Seq(Op("q35_html_extract", "etl"), Op("q03_left_join", "etl"),
        Op("q11_merge_upsert", "etl"), Op("q74_fetch_parse", "sources"),
        Op("q37_csv_roundtrip", "sources"), Op("q92_stream_dedup", "streaming"))),
    // LLM-curation operators on a replicated documents and embeddings corpus,
    // plus near-duplicate clusters (connected components) and triangle
    // counting; no etl or streaming code
    Workload("curation_scaled", "sf0.01", docReplicas = 2, warmPasses = 1,
      Seq(Op("q21_dedup_exact", "ops.dedup"), Op("q28_langid", "ops.textanalysis"),
        Op("q89_chunk_dedup", "ops.curation"),
        Op("q155_embedding_neardup_ivf", "ops.similarity"),
        Op("q54_dedup_clusters", "ops.clusters"), Op("q128_triangles", "ops.graph"))))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))
}
