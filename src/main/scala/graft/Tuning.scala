package graft

import org.apache.spark.sql.SparkSession

/** Session tuning this library recommends (and its own mains set),
  * with the measurement behind each knob — the
  * `spark.sql.shuffle.partitions = cores` convention lives at each
  * builder; what belongs here is anything whose default silently
  * changes an operator's EXECUTION MODE or makes a warm pass redo work.
  *
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (default 128): every custom typed aggregator in this library
  * (TopKAgg/TopKDistinctAgg, VectorSumAgg, BitsetOrAgg, MisraGriesAgg)
  * runs through `ObjectHashAggregateExec`, which abandons hash
  * aggregation and SORTS the remaining input once a partition's
  * in-memory map passes the threshold. Per-document groupings pass 128
  * keys/partition at any realistic corpus size, so the default turned
  * every "bounded buffers combine map-side, the scored stream never
  * shuffles" plan into a full disk sort of the stream — measured on
  * q187 at sf100 as ENOSPC through 77 GB of sort spill, bounded ~8 GB
  * once hash mode held. All these buffers are small by construction
  * (top-k tuples, fixed-width vectors, k-entry sketch registers), so
  * the hash-map memory is keys × O(100 B); 2²² keys/partition caps
  * that at a few hundred MB per task, and past the raised bound the
  * sort fallback still guards. */
object Tuning {
  val ObjectAggFallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjectAggFallbackKeys: Int = 1 << 22

  /** `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`
    * (default 0 = off): lets AQE convert a SortMergeJoin to a
    * ShuffledHashJoin at RUNTIME when every build-side partition's
    * measured shuffle bytes are under the threshold — the
    * runtime-measured twin of q187's plan-time SHUFFLE_HASH gate, and
    * it applies library-wide. Motivation (r17, STAGE_r17_q133_sf100):
    * q133/q138's gram⋈dup-gram join keys 16-byte hashes whose build
    * side is bucket-bounded, but past memory scale Catalyst's SMJ
    * SORTS the corpus-sized gram stream — 18.4 GB memory / 7.8 GB
    * disk spill in the join stage at sf100 where sf10 spills zero, a
    * 36× task-time decade on 10× data. The trade is explicit: an SHJ
    * build map does not spill, so threshold × concurrent task slots
    * must fit execution memory. The threshold is therefore DERIVED
    * from this JVM's heap and slot count (ADVICE r17: a flat 256 MB ×
    * 32 slots = 8 GB of un-spillable builds OOMs a deployment with a
    * smaller heap or more slots than the 64 GB probe box it was sized
    * on): heap/4 ÷ slots bounds the worst-case concurrent build maps
    * to ~1/4 of the heap — under Spark's ~0.6 execution-memory share
    * with headroom for each task's probe/aggregate side — floored at
    * 16 MB (gate-scale partitions are KBs and convert trivially) and
    * capped at 256 MB, the r17 measured operating point (64 GB heap /
    * 32 slots lands exactly there). AQE only converts when the
    * RUNTIME sizes satisfy the bound, which is exactly the gating the
    * plan-time hint cannot have. */
  val ShjConvertKey =
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
  val ShjConvertBytesMax: Long = 256L << 20
  val ShjConvertBytesMin: Long = 16L << 20
  def shjConvertBytes: Long = {
    val heap = Runtime.getRuntime.maxMemory
    val slots = math.max(1L, Runtime.getRuntime.availableProcessors.toLong)
    math.min(ShjConvertBytesMax,
      math.max(ShjConvertBytesMin, heap / 4 / slots))
  }

  /** `spark.sql.codegen.cache.maxEntries` (static, default 100): the
    * LRU cache of compiled generated classes (whole-stage stages,
    * projections, orderings). The library's working set is far larger
    * than 100: one pass of perfbench's `curation_scaled` ops generates
    * 186–188 distinct classes, `etl_ingest`'s 33, and one pass of all
    * 193 `SparkEntry.queries` 2,838 at sf0.01 and 2,839 at sf0.1. At
    * the default the cache thrashes: each warm curation pass recompiled
    * 181 classes (4,780 in a second corpus pass), and perfbench's
    * `curation_scaled` warm pass took 8.16 s against 5.91 s once the
    * cache held them (median of 10 pairs, 4-core host). 4096 is the
    * smallest power of two above the larger corpus count; holding it
    * costs ~25 MB of Metaspace (219 → 245 MB after two corpus passes
    * at sf0.01). `etl_ingest` fits either way.
    *
    * Spark sizes this cache ONCE per JVM, when `CodeGenerator$` first
    * initializes, from the `SQLConf` active at that moment: the setting
    * takes effect only if the tuned session exists before any code is
    * generated, and a JVM that generated code first keeps 100 entries
    * whatever a later session sets. CodegenCacheSpec pins the effect,
    * not the conf string. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries: Int = 4096

  /** `spark.sql.artifact.isolation.enabled` (default true) set to
    * false: every streaming run compiled its generated classes again,
    * whatever the cache size. A stream runs on a clone of the session,
    * and with isolation on, the executor keeps one class loader per
    * session, so each run's tasks present a new loader. The loader is
    * half of `CodeGenerator`'s cache key, so no class compiled by an
    * earlier run is found (read from Spark's code; the per-run loader
    * was observed, the per-clone session id was not printed). Measured
    * at sf0.1 on 4 cores: runs 2–4 of q92 compiled 4 classes each and of
    * q86 23, against 0 with isolation off. Isolation only separates the
    * JARs, files and archives a session adds as artifacts, and the
    * library adds none (SourceGuardSpec).
    *
    * Like [[CodegenCacheEntries]] it acts only at session creation: the
    * setting must be on the builder, and a session built without it
    * keeps isolation on. CodegenCacheSpec pins the effect, a second run
    * of every streaming query compiling nothing. */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** `SPARK_GRAFT_NO_TUNING=1` — the A/B switch. Disables the
    * session-level tuning below AND the operator-scoped sets inside
    * [[graft.ops.TextAnalysis.bitextMining]] (ADVICE r15 item 3: the
    * scoped raise used to pin itself regardless, so the switch could
    * not produce an untuned q187 run). An untuned q187 at sf100 runs
    * the measured scratch-disk wall — SMJ band-join sorts plus the
    * 128-key sort fallback, 77 GB of spill → ENOSPC on this host —
    * which is exactly what the switch exists to demonstrate. */
  def disabled: Boolean = sys.env.get("SPARK_GRAFT_NO_TUNING").contains("1")

  /** Apply the library's session tuning to a builder (the mains and
    * the test harness route through this; an externally-built session
    * — e.g. the driver's t1 smoke — gets correct results either way,
    * just the default execution modes). [[disabled]] turns it off;
    * the r15 sf1 A/B measured the raise neutral on the family's
    * plain-hash-aggregate members (AB_r15_objectagg_tuning.json). */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    if (disabled) b
    else b.config(ObjectAggFallbackKey, ObjectAggFallbackKeys.toString)
      // local-mode derivation: this JVM IS the executor. A cluster
      // deployment should size this from ITS executors instead:
      // min(256MB, executor_heap/4 / spark.executor.cores)
      .config(ShjConvertKey, shjConvertBytes.toString)
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .config(ArtifactIsolationKey, "false")
}
