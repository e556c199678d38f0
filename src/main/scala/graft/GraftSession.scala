package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine. Every session it
  * builds carries [[GraftExtensions]].
  *
  * Defaults chosen for correctness-portability (UTC session time zone —
  * all window arithmetic is epoch-aligned, see SURVEY.md §3) and for
  * scale (AQE with partition coalescing + skew-join handling). On a real
  * cluster `shufflePartitions` should be ~2-3× total cores. The local
  * defaults are `local[N]` with N = `SPARK_GRAFT_CPUS` (32 when unset)
  * and 32 shuffle partitions, whatever the core count; the 32 is also
  * the state-partition count of every stateful streaming operator.
  */
object GraftSession {

  def builder(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = 32
  ): SparkSession.Builder = {
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // TypedImperativeAggregates (TopKPairsAgg, the sketch family) run
      // in ObjectHashAggregateExec, whose default sort-based fallback
      // fires at just 128 in-memory keys — that would re-sort the very
      // candidate frames the mergeable top-k exists to keep unsorted
      // (plans/TopKExprs.scala). 1M keys × ~150 B/top-k buffer caps the
      // map at ~150 MB/task; per-task key counts are bounded by design
      // (queries-probing-this-task's-cells, not the corpus).
      // The setting is GLOBAL, so it also governs the sketch
      // TypedImperativeAggregates — per-task bound there is
      // max-in-memory-groups × buffer size: KLL(k=200) ≈ 3.2 KB and
      // Misra-Gries(k=32) ≈ 1 KB serialized → ≤ 3.2 GB/task in the
      // worst case BEFORE the sort fallback fires, but every sketch
      // group-by in the suite keys on bounded dimensions (source, lang,
      // source×lang, key-bucket: ≤ thousands of groups ≈ MBs/task),
      // never on a corpus-cardinality id. A NEW sketch rollup keyed on
      // an unbounded column must either pre-reduce the key space or
      // lower this threshold per-query via spark.conf.set around the
      // consumer — do not raise it further globally.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // RocksDB-backed streaming state: the in-memory (HashMap) provider
      // caps stateful-operator state at executor heap; RocksDB spills to
      // local disk with incremental checkpointing — the only viable
      // provider when watermark-bounded state (dedup keys, open windows,
      // join buffers) reaches 100 TB-scale cardinalities
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }

  /** Get-or-create a local session with graft defaults; its
    * GraftExtensions supply the graft SQL functions (graft_minhash_bands,
    * graft_qdot, …) and the optimizer fence's planner strategy.
    */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AFTER session startup: Spark re-initializes log4j2 during init,
    // which would drop a pre-installed appender — see CodegenGuard
    CodegenGuard.install()
    spark
  }
}
