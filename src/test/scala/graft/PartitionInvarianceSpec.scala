package graft

/** Distributed-determinism contract: a query's RESULT must be a pure
  * function of its input tables — never of how the cluster happened to
  * partition them. On a 1000-executor cluster the engine does not
  * control reducer counts (AQE re-plans them per stage) or scan split
  * boundaries (they follow file layout), so any query whose output
  * shifts with `spark.sql.shuffle.partitions` or
  * `spark.sql.files.maxPartitionBytes` is broken at scale even if it
  * hash-matches the oracle at the verify harness's fixed settings.
  *
  * The subset below is every risk class in the inventory, not a random
  * sample: deterministic-pseudorandom ops (hash-seeded shuffle/sample/
  * bootstrap/DP noise — must NOT fall back to partition-seeded rand),
  * top-k tie-breaking, two-phase exact rank statistics (median/MAD
  * walk partial aggregates whose merge order changes with reducer
  * count), sketch contract surfaces (HLL register-max and CMS slot-sum
  * merges commute; the Misra-Gries and GK outputs are projected onto
  * merge-robust contract columns — this spec is what pins that
  * projection), iterative graph state (CC star-contraction round
  * structure changes with partitioning; the FIXPOINT must not),
  * clustering/ANN (centroid init must be data-keyed, not
  * partition-keyed), and position-sensitive stream ops (chunk/skip/
  * throttle ride an explicit total order, not arrival order).
  *
  * Float caveat: double-sum merge order differs across reducer counts;
  * queries here survive because they aggregate in exact decimal/long
  * space or round at a contract boundary — a new query failing this
  * spec on an ulp should switch to a decimal sum, not loosen the spec.
  */
class PartitionInvarianceSpec extends SparkSpecBase {

  private val subset = Seq(
    // deterministic-pseudorandom
    "q_shuffle_order", "q_weighted_sample", "q_sample_per_key",
    "q_stratified_sample", "q_bootstrap", "q_dp_histogram", "q_split_assign",
    // top-k / tie-breaking
    "q3_topk", "q_topk_per_key", "q_window_topk", "q_embed_topk",
    // two-phase exact rank statistics
    "q_global_median", "q_mad",
    // sketch contract surfaces
    "q_approx_distinct", "q_quantiles", "q_heavy_hitters", "q_cms_freq",
    // iterative graph fixpoints
    "q_dedup_clusters", "q_pagerank", "q_dedup_prio",
    // clustering / ANN assignment
    "q_kmeans_step", "q_embed_ivf", "q_semdedup",
    // position-sensitive stream ops
    "q_pack_sequences", "q_chunk", "q_skip_take", "q_throttle",
    // round-10 session-2 additions: interval-union islands, basket
    // top-50 tie-break, per-key array fold, closed-form recurrence,
    // fixed-round iterative peel
    "q_span_scrub", "q_copurchase", "q_ewma", "q_cusum", "q_kcore",
    // island arrays collect in partition order — output must not notice
    "q_span_excise",
    // block-window ranks + adjacent-bucket pair join
    "q_sorted_dedup",
    // exact-integer sufficient statistics whose partial-agg merge
    // order must commute (OLS sums; d² moment slots), and a map-only
    // model-inference pass that must not notice scan splits
    "q_trend_slope", "q_gram_matrix", "q_classifier_score",
    // two-frame window joins and a sketch inner product whose counter
    // merges must commute across reducer counts
    "q_asof_nearest", "q_autocorr", "q_join_card_est",
    // iterative frontier fixpoint and the IVF-majority label screen
    "q_bfs_hops", "q_label_consistency",
    // hash-seeded DP noise, cohort histograms, and the IVF-vs-exact
    // recall intersection
    "q_dp_mean", "q_drift", "q_ann_recall",
    // round-11 re-parameterized screens: auto-sized two-level IVF
    // (√n fine cells, md5-ordered sample ranks, min_by ties) and
    // corpus-tracking LSH planes — the parameter now DEPENDS on a
    // count whose partial-agg merge order must not matter, and the
    // candidate sets ride new windows/argmins with explicit tie keys
    "q_knn_hubs", "q_cosine_bands", "q_dedup_embed",
    // round-11 session-2: bounded rank-cutoff sketch + collect_list
    // array build (sorted before use — this pins that), DECIMAL(38,0)
    // partial-sum merges, and a global scalar threshold assembled from
    // a partial-agg total
    "q_kmv_overlap", "q_moments", "q11_stock",
    // round-11 session-3 one-pass rewrites: chained unordered user
    // windows + stack rollup (funnel), lead()-based next-active-day
    // (retention), the (x,y) count-window bigram kernel, and the
    // rank-window inverted index — window frames and partial merges
    // must not notice reducer counts or scan splits
    "q_funnel", "q_retention", "q_bigram_lm", "q_inverted_index",
    // the privacy release gates share one fenced (type, band)
    // repartition between the group aggregate and the release join
    // (its width must not change their rows), the HLL union contract must be
    // register-merge-order independent, and the epoch plan's
    // DECIMAL(38,0) budget products ride partial-sum merges
    "q_kanon", "q_ldiv", "q_hll_rollup", "q_epoch_plan",
    // round-14 session-2: synchronous LPA argmax merges (struct-max
    // partials must commute), the exponential-mechanism CDF walk
    // (bucket cumsum + md5 threshold), the centroid floor-div matrix,
    // the power-iteration moment collect (partial second-moment merge
    // order), and the gaps-only explode rewrite (lead frames must not
    // notice reducer counts)
    "q_label_prop", "q_dp_quantile", "q_domain_sim", "q_pca_power",
    "q_gap_fill",
    // per-round centroid collects must not notice partial-merge order
    "q_kmeans_train")

  private def runAll(): Map[String, Seq[String]] =
    subset.map { q =>
      q -> Queries.queries(q)(spark, sfDir).collect().map(_.toString).sorted.toSeq
    }.toMap

  test("65 risk-class queries are bit-identical under 1 / 4 / 13 shuffle partitions, 64 KiB scan splits, and AQE off") {
    val shufKey = "spark.sql.shuffle.partitions"
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val aqeKey = "spark.sql.adaptive.enabled"
    val origShuf = spark.conf.get(shufKey)
    val origSplit = spark.conf.get(splitKey)
    val origAqe = spark.conf.get(aqeKey)
    try {
      val base = runAll() // harness default: 4 reducers, default splits, AQE on
      base.foreach { case (q, rows) => assert(rows.nonEmpty, s"$q returned no rows") }
      // the third point also disables AQE: runtime coalescing/skew
      // re-planning changes reducer counts and join strategies mid-query
      // on a real cluster, and results must not notice
      for ((shuf, split, aqe) <- Seq(("1", origSplit, origAqe), ("13", "65536", origAqe),
          ("7", origSplit, "false"))) {
        spark.conf.set(shufKey, shuf)
        spark.conf.set(splitKey, split)
        spark.conf.set(aqeKey, aqe)
        val got = runAll()
        for (q <- subset)
          assert(got(q) == base(q),
            s"$q result depends on partitioning ($shufKey=$shuf, $splitKey=$split, $aqeKey=$aqe): " +
              s"${got(q).diff(base(q)).take(3)} vs ${base(q).diff(got(q)).take(3)}")
      }
    } finally {
      spark.conf.set(shufKey, origShuf)
      spark.conf.set(splitKey, origSplit)
      spark.conf.set(aqeKey, origAqe)
    }
  }
}
