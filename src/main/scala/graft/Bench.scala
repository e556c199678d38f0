package graft

/** Benchmark main — runs the headline query set on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line with per-query wall seconds.
  *
  * Uses GraftSession (UTC + AQE) so benched plans are the same plans
  * verification runs. The headline set is the production-path mix:
  * relational (q1/q3/q5), streams (candles, interval join), text
  * (wordcount), dedup (minhash LSH), ANN (lshTopK — the scale path;
  * bruteForceTopK is a correctness baseline and intentionally not
  * benched). Failures are recorded as explicit error markers, never as
  * fake timings.
  */
object Bench {
  val Headline: Seq[String] = Seq(
    "q1_pricing", "q3_topk", "q5_region", "q_fold_agg", "q_tumbling_window",
    "q_candles", "q_interval_join", "q_asof_join", "q_wordcount",
    "q_dedup_minhash", "q_dedup_simhash_pairs", "q_dedup_embed", "q_embed_lsh",
    "q_embed_ivf", "q_token_count", "q_distinct_users", "q_curation",
    "q_span_dedup", "q_running_stats",
    "q_doc_chunks", "q_minhash_est", "q_kmeans_step", "q_pagerank",
    "q2_mincost", "q18_bigorders", "q_chunk_dedup",
    "q6_forecast", "q12_priority", "q19_brackets", "q_mad",
    "q_global_median", "q_heavy_hitters", "q_rolling_actives", "q_cosine_bands",
    // the three cost profiles the set under-sampled: iterative graph
    // (star-contraction CC over the session-cached pair mining), as-of
    // attribution, and explode-heavy gap fill — plus the two-pass
    // sketch-verify shape
    "q_dedup_clusters", "q_attribution", "q_gap_fill", "q_heavy_hitters_verified",
    // round-7 additions: cell-bucketed semantic dedup self-join,
    // keyed-ntile bucketing over the bigram-LM kernel, doc_id-keyed
    // trigram repetition, and the two-pass BM25 shape
    "q_semdedup", "q_ppl_buckets", "q_dup_ngram", "q_bm25",
    // round-8 additions: map-only CDC chunking + fp dup join, the
    // mapPartitions multimodal decode path, the degree-oriented wedge
    // join, and the posting-list build — cost shapes the set
    // under-sampled — plus the histogram-cut fluency-tier scale path
    "q_cdc_chunks", "q_multimodal_decode", "q_triangles", "q_inverted_index",
    "q_ppl_buckets_scale",
    // the sampled scale path benched NEXT TO its exact twin, so the
    // baseline shows the p^3 wedge-work cut at the denser sf0.1 graph
    "q_triangles_approx",
    // round-8 session-2 additions: the bloom-prefilter + shuffle-hash
    // confirm shape, the double-window span-run pass, the two-pass
    // broadcast-stats quantization report, the two-phase weighted
    // rank walk, the ObjectHashAggregate sketch build, and the
    // key-count histogram — six cost shapes new to the set
    "q_bloom_decontam", "q_dup_span_runs", "q_embed_quant",
    "q_weighted_sample", "q_cms_freq", "q_skew_report",
    // round-8 session-3: the bucket-decomposed range-lookup join and
    // the double-explode grid overlap join — the explode×equi-join
    // cost shapes (vs the nested loops they avoid)
    "q_range_join", "q_overlap_sessions",
    // the two-snapshot full-outer keyed-delta shape
    "q_snapshot_diff",
    // round-8 session-4: the MERGE apply (compact-then-full-outer), the
    // shared-sort multi-frame session assignment, the deletion-
    // neighborhood vocabulary self-join, the prefix-filtered
    // set-similarity join, and the zone-map audit scan
    "q_cdc_apply", "q_sessionize", "q_typo_pairs", "q_prefix_jaccard",
    "q_zonemap",
    // round-10 additions: the map-only PQ encode, the O(m)-lookup ADC
    // scan, the two-stage ADC-shortlist + exact-re-rank search, and the
    // min_by priority survivor over the shared CC state — the
    // quantized-ANN and cross-source-dedup cost shapes
    "q_embed_pq", "q_pq_adc", "q_pq_rescore", "q_dedup_prio",
    // the all-to-all approximate-kNN in-degree shape (queries = corpus)
    // and the IVFADC composition (cell-bounded candidates × O(m) ADC)
    "q_knn_hubs", "q_ivfpq", "q_embed_binary",
    // exact interval-union span-removal accounting: the q_dup_span_runs
    // exchange plus a two-window island walk over the aggregate
    "q_span_scrub",
    // basket self-join association mining (Σ basket² pair explode)
    "q_copurchase",
    // the per-key ordered-array linear-recurrence fold, and the
    // closed-form (windowed) recurrence it contrasts with
    "q_ewma", "q_cusum",
    // fixed-round monotone peel over the near-dup graph
    "q_kcore",
    // the excision content pass (island array back-join + HOF filter)
    "q_span_excise",
    // the sorting-based candidate generator (block window + adjacent-bucket join)
    "q_sorted_dedup",
    // round-10 session-3: the map-only model-inference pass (zero
    // exchanges), the shared-exchange OLS sums, and the d²-bounded
    // moment aggregation — three cost shapes new to the set
    "q_classifier_score", "q_trend_slope", "q_gram_matrix",
    // the two-frame nearest-asof window, the autocorrelation triple
    // frame, and the sketch-vs-recount join-cardinality pass
    "q_asof_nearest", "q_autocorr", "q_join_card_est",
    // fixed-depth frontier walk over the cached pair graph, and the
    // all-to-all IVF majority screen
    "q_bfs_hops", "q_label_consistency",
    // DP release algebra, the cohort-TV drift rollup, and the
    // dual-pipeline recall evaluation
    "q_dp_mean", "q_drift", "q_ann_recall",
    // round-11 session-2: the widest broadcast join tree (Q9 shape),
    // the scalar-threshold aggregate-reuse shape (Q11), the bounded
    // rank-cutoff sketch build + tiny pair frame (KMV), and the
    // DECIMAL(38,0) power-sum aggregation — four cost shapes new to
    // the set (q_epoch_plan/q_ab_lift ride shapes already sampled)
    "q9_profit", "q11_stock", "q_kmv_overlap", "q_moments",
    // round-11 session-3: the audit-driven one-pass rewrites, anchored
    // so the single-scan shapes sit under the 2× gate permanently —
    // correlated-average windows (Q17), reused scalar-total (Q20),
    // the orderkey solo pass (Q21), chained-window funnel, lead-based
    // retention, and the fenced tf/df share (tfidf)
    "q17_smallqty", "q20_excess", "q21_blame", "q_funnel", "q_retention",
    "q_tfidf_topterms",
    // round-12 additions: the zero-exchange HOF run-length fold over a
    // row-local sorted array, the bit-interleave key + tiny-bucket
    // partial agg — two map-dominated cost shapes new to the set —
    // and the TypedImperativeAggregate sketch rollup + broadcast
    // recount (the KLL quantiles quartet member)
    "q_diversity", "q_zorder", "q_kll_rollup",
    // round-13 addition: hybrid-retrieval fusion — two TakeOrdered
    // heads (the shared BM25 two-pass + the broadcast-query embedding
    // scan) fused on a 100-row full-outer join
    "q_rrf_fusion",
    // round-14 additions: the random-walk-with-restart over the cached
    // pair graph (anchored per VERDICT r13 item 3), the iterated
    // BPE merge loop — one corpus tokenize + 10 vocab-bounded
    // argmax/replace rounds under checkpoint discipline — and the two
    // remaining top-k-rewrite consumers (VERDICT item 3 asks them
    // re-anchored, which means headline + BASELINE rows): the
    // two-level IVF search itself and the kNN majority-vote classifier
    "q_ppr_seeds", "q_bpe_merges", "q_embed_ivf2", "q_knn_classify",
    // the BPE apply/compression curve riding the same learn loop
    "q_bpe_apply",
    // round-14 session-2: the struct-max argmax iteration (LPA
    // communities + modularity over the cached pair graph), the
    // bounded-bucket window DP selection, the explode-to-tiny
    // centroid rollup + dimension-sized self-join, and the
    // moment-collect + literal-projection spectral pass
    "q_label_prop", "q_dp_quantile", "q_domain_sim", "q_pca_power",
    // the iterated Lloyd loop — round 15: the TWO-LEVEL training path
    // (coarse-literal probe + broadcast fine relation per round, no
    // k·d collect)
    "q_kmeans_train",
    // round-15 additions: the corpus BPE encode (vocab-bounded merge
    // replay + one token equi-join + doc-keyed fingerprint agg — the
    // production tokenization step) and the node-sized overlap report
    // (the sweep member of the overlap family at decade-up scale; the
    // exact pair query stays for drill-down and is SKIPped at sf1+)
    "q_bpe_encode", "q_overlap_counts",
    // round-16 additions: the count-only BPE encode (the sf10-sweep
    // member of the encode pair — no fingerprint payload, so the
    // corpus-linear collect_list is gone) and the multimodal
    // perceptual-hash near-dup (char-window SimHash signature + the
    // byte-band pigeonhole pair miner over asset payloads)
    "q_bpe_encode_counts", "q_image_neardup",
    // round-17 addition: the bounded-report multimodal near-dup twin
    // (per-asset participation totals over the identical banded miner —
    // the 9e → 9e2 precedent; output and post-join exchange asset-sized
    // at any scale, where the pair report is output-bound)
    "q_image_neardup_counts",
    // round-17 additions: the IVF operating curve (4 recall points off
    // one shared candidate frame) and the readability-lite boilerplate
    // extractor (map-only link-density filter over synthesized markup)
    "q_ann_curve", "q_html_extract",
    // round-17 addition: DSIR importance weighting (target-ratio token
    // weights + count-weighted doc scores; threshold selection, no
    // global sort)
    "q_dsir_weights",
    // round-17 addition: per-language tokenizer fertility (pieces per
    // word + chars per piece; one lang-keyed exchange)
    "q_token_fertility",
    // the leakage-safe group split rides the shared CC state like
    // q_dedup_clusters/q_dedup_prio — in the set so the COLD sub-anchor
    // convention (VERDICT r15 item 2) covers every memo-riding graph
    // query somewhere at sf0.1
    "q_group_split")

  /** Dual-report set (VERDICT r17 item 3): the 12 bench queries whose
    * r17 steady-state numbers ride a session memo built by an earlier
    * trial (graph state, span islands, bm25/bigram-LM kernels). For
    * each, the canonical line ALSO carries `<name>__cold` — the
    * post-clearSessionMemos single-shot cost — so the driver's artifact
    * holds both numbers without a separate SPARK_GRAFT_COLD run. Trial
    * 1 of every query already runs immediately after the per-query
    * sweep, so its wall time IS the cold number; recording it adds no
    * bench work. The `__cold` entries are additions (never replacing a
    * steady entry) and are EXCLUDED from the headline total, which
    * stays the sum of the same per-query steady minima as r16/r17.
    * Older memo riders (CC family, BPE chain) keep their committed
    * BASELINE.md cold sub-anchors.
    */
  val ColdDual: Set[String] = Set(
    "q_pagerank", "q_ppr_seeds", "q_kcore", "q_bfs_hops", "q_label_prop",
    "q_dup_span_runs", "q_span_scrub", "q_span_excise",
    "q_bm25", "q_rrf_fusion", "q_ppl_buckets", "q_ppl_buckets_scale")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev subset (comma-separated names): per-query times are position-
    // independent (full sweep between queries), so a subset run anchors
    // the same numbers as a full pass. The driver never sets this.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Exclusion filter for scale rehearsals: the deliberately
    // superlinear exact-graph shapes (documented in BASELINE.md) get
    // skipped at sf1+ with their approx counterparts timed instead.
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet).getOrElse(Set.empty)
    val headline = only.fold(Headline)(s => Headline.filter(s)).filterNot(skip)
    val spark = GraftSession.local("graft-bench")
    // Warm EACH query once on the TINY scale factor first: plan
    // analysis + whole-stage codegen compile are one-time JVM costs,
    // and the steady-state per-query time is what scales to a cluster.
    // No query ever runs twice at the bench scale, so no timed number
    // benefits from warmed data caches.
    // Materialize via the noop sink, not count(): count() lets column
    // pruning drop every unaggregated output column, so a projection-
    // heavy query would be timed without computing its payload. The
    // noop sink consumes fully-built rows and writes nothing.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // Between-queries hygiene (SessionMemo.sweep): without it, one
    // query's materialized state (memo checkpoints, cached frames)
    // accumulates in the block manager across the 62-query pass and
    // squeezes execution memory for every LATER query — the round-9
    // bench showed exactly that signature (front-half median 1.03x
    // baseline, back-half 2.5-5.8x). A long-lived production driver
    // runs job streams the same way, so the sweep is the realistic
    // steady state, not a bench trick.
    if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") != "0") {
      headline.foreach { name =>
        try SparkEntry.queries.get(name).foreach(fn => materialize(fn(spark, "/root/testdata/sf0.001")))
        catch { case _: Throwable => () }
      }
      SessionMemo.sweep(spark) // warmup-created memos/blocks must not shadow the timed pass
      System.gc()  // drop warmup garbage so timed runs don't pay its GC
    }

    // Best-of-N per query (default 2) inside each sweep, and (round 13)
    // MIN ACROSS ≥2 FULL SWEEPS (default 2) for the canonical line:
    // back-to-back trials isolate one-off JIT/GC noise, but an
    // ambient-load window (another process on the box during one
    // sweep) inflates every trial of a query the same way — the
    // r10/r11/r12 outlier pattern that cost three rounds of isolated
    // re-run adjudication. Two sweeps separated by the full pass put
    // each query in two distant time windows; the per-query min is the
    // steady-state plan cost unless the load spanned the whole run.
    // State persists ACROSS trials of one query (that is the steady
    // state being measured) and is swept BETWEEN queries (so no
    // query's timing depends on bench position). Each sweep's own full
    // record is also written durably, so the canonical min stays
    // auditable against its inputs.
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt
    // COLD anchors (VERDICT r15 item 1): with SPARK_GRAFT_COLD=1 the
    // sweep hygiene ALSO runs between trials of one query, so every
    // trial of a memo-riding query (graph family over the cached pair
    // mining, the BPE learn chain) pays its full state build — the
    // number the 2x gate must cover somewhere. Default (0) keeps the
    // steady-state convention: state persists across a query's trials,
    // is swept between queries. The driver never sets this; it exists
    // for the committed cold sub-anchor rows in BASELINE.md.
    val coldTrials = sys.env.getOrElse("SPARK_GRAFT_COLD", "0") == "1"
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "2").toInt
    val streamOn = sys.env.getOrElse("SPARK_GRAFT_STREAM", "1") != "0"
    val sfName = sfDir.split('/').last
    val round = sys.env.get("SPARK_GRAFT_ROUND").orElse(nextRound()).getOrElse("x")
    // dev subset/skip/cold runs must not shadow the round's canonical file
    val suffix = (if (only.isDefined || skip.nonEmpty) "_subset" else "") +
      (if (coldTrials) "_cold" else "")

    def runSweep(): (Seq[(String, Either[String, Double])], Option[StreamRes], Option[StreamRes]) = {
      val results = headline.flatMap { name =>
        SparkEntry.queries.get(name).toSeq.flatMap { fn =>
          SessionMemo.sweep(spark)
          try {
            val times = (1 to trials).map { i =>
              // trial 1 is already cold from the per-query sweep
              // above — re-sweeping there would just slow cold anchor
              // runs (ADVICE r16); later trials sweep so each one
              // rebuilds memoized state from scratch
              if (coldTrials && i > 1) SessionMemo.sweep(spark)
              val t0 = System.nanoTime()
              materialize(fn(spark, sfDir))
              (System.nanoTime() - t0) / 1e9
            }
            val steady = name -> (Right(times.min): Either[String, Double])
            // memo-riding queries dual-report trial 1 (the cold build)
            // — see ColdDual's scaladoc
            if (ColdDual(name))
              Seq(steady, s"${name}__cold" -> (Right(times.head): Either[String, Double]))
            else Seq(steady)
          } catch {
            case e: Throwable =>
              Seq(name -> (Left(e.getClass.getSimpleName): Either[String, Double]))
          }
        }
      }
      // Two tape sizes (the bench SF and the next SF down) so streaming
      // rows/s regressions surface round-over-round the way batch ones
      // do — one size can't distinguish fixed micro-batch latency from
      // per-row cost; two sizes separate the intercept from the slope.
      def streamAt(dir: String): Option[StreamRes] = {
        SessionMemo.sweep(spark)
        try Some(streamingSection(spark, dir))
        catch { case _: Throwable => None }
      }
      val (st, stSmall) =
        if (!streamOn) (None, None) else (streamAt(sfDir), streamAt(smallerSf(sfDir)))
      (results, st, stSmall)
    }

    def renderSweep(r: (Seq[(String, Either[String, Double])], Option[StreamRes], Option[StreamRes])): String = {
      val ok = r._1.collect { case (n, Right(s)) => n -> s }
      val err = r._1.collect { case (n, Left(m)) => n -> m }
      json(ok, err, r._2, r._3, sfDir, sweeps = 1)
    }

    val all = (1 to sweeps).map { i =>
      val r = runSweep()
      // each sweep's full record lands durably before the next starts,
      // so a crash mid-run never loses the completed sweep
      durableWrite(s"bench_${sfName}_r$round${suffix}_run$i", renderSweep(r))
      r
    }
    // canonical = per-query min over the sweeps (a query erroring in
    // one sweep but timed in another keeps its timing; erroring in all
    // sweeps keeps the last error marker). ColdDual queries carry a
    // second `__cold` entry merged the same way; when the base query
    // errored in every sweep its __cold entry is simply absent.
    val names = headline.filter(SparkEntry.queries.contains)
      .flatMap(n => if (ColdDual(n)) Seq(n, n + "__cold") else Seq(n))
    val merged: Seq[(String, Either[String, Double])] = names.flatMap { n =>
      val per = all.flatMap(_._1.collect { case (`n`, v) => v })
      val oks = per.collect { case Right(s) => s }
      if (oks.nonEmpty) Some(n -> (Right(oks.min): Either[String, Double]))
      else per.lastOption.map(n -> _)
    }
    def mergeStream(sel: ((Seq[(String, Either[String, Double])], Option[StreamRes], Option[StreamRes])) => Option[StreamRes]): Option[StreamRes] = {
      val rs = all.flatMap(r => sel(r))
      if (rs.isEmpty) None
      else Some(StreamRes(rs.head.rows, rs.head.sf,
        rs.head.ops.map(_._1).map { op =>
          op -> rs.flatMap(_.ops.collect { case (`op`, s) => s }).min }))
    }
    val ok = merged.collect { case (n, Right(s)) => n -> s }
    val err = merged.collect { case (n, Left(m)) => n -> m }
    val line = json(ok, err, mergeStream(_._2), mergeStream(_._3), sfDir, sweeps)
    println(line)
    // Durable copy: the driver's stdout capture front-truncates long
    // runs (BENCH_r10.json lost the headline total and first 8
    // queries), so the full record also lands in bench_runs/.
    val durable = durableWrite(s"bench_${sfName}_r$round$suffix", line)
    // silent-codegen-fallback gate (VERDICT r14 item 1): any janino
    // compile failure during the run surfaces as a COUNT in the
    // summary line (and its messages land durably) instead of hiding
    // a ~60× interpreted cliff behind green timings
    val cgErrs = CodegenGuard.drain()
    if (cgErrs.nonEmpty)
      durableWrite(s"codegen_errors_${sfName}_r$round$suffix", cgErrs.mkString("\n")): Unit
    println(summaryLine(ok, err, cgErrs.size,
      durable.map(_.toString).getOrElse("(durable write failed)"), sfDir, sweeps))
    spark.stop()
  }

  /** The bench record is parsed from the LAST 2000 CHARS of
    * stdout (every BENCH_r*.json tail is exactly 2000 chars; r10–r13
    * lost the line's start once it outgrew the window), sbt's ~80-char
    * "[success] ..." trailer included, so the summary line is held to
    * SummaryBudget chars. 121 query names alone are ~2000 chars, so it
    * inlines the highest-value subset of both maps. The error map goes
    * first, capped at half of what the fixed fields leave (messages cut
    * to ErrMsgChars; `errors_n` keeps the full count). The per-query map
    * takes the rest: the ColdDual steady+__cold pairs first, then the
    * other queries by descending steady time. The durable side file and
    * the canonical line carry the complete maps.
    */
  private[graft] val SummaryBudget = 1900
  private val ErrMsgChars = 80

  private[graft] def summaryLine(ok: Seq[(String, Double)], err: Seq[(String, String)],
      codegenErrors: Int, perQueryIn: String, sfDir: String, sweeps: Int): String = {
    val total = ok.collect { case (k, v) if !k.endsWith("__cold") => v }.sum
    val steadyN = ok.count(!_._1.endsWith("__cold"))
    def line(qs: String, errs: String): String =
      s"""{"metric":"headline_total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""sweeps":$sweeps,"queries_n":$steadyN,"errors_n":${err.size},""" +
      s""""queries":{$qs},"errors":{$errs},"codegen_errors":$codegenErrors,""" +
      s""""per_query_in":"${jsonEscape(perQueryIn)}","sf":"${jsonEscape(sfDir)}"}"""
    val free = SummaryBudget - line("", "").length
    val errs = fitEntries(err.map { case (k, m) =>
      s""""${jsonEscape(k)}":"${jsonEscape(m.take(ErrMsgChars))}"""" }, free / 2)
    val okMap = ok.toMap
    val pairs = ColdDual.toSeq.sorted.flatMap(n =>
      Seq(n, n + "__cold").flatMap(k => okMap.get(k).map(k -> _)))
    val rest = ok.filterNot { case (k, _) => ColdDual(k) || k.endsWith("__cold") }.sortBy(-_._2)
    val qs = fitEntries((pairs ++ rest).map { case (k, v) => f""""$k":$v%.3f""" },
      free - errs.length)
    line(qs, errs)
  }

  /** Comma-joins `entries` in order, skipping any entry that would push
    * the joined body past `budget` chars.
    */
  private def fitEntries(entries: Seq[String], budget: Int): String = {
    val sb = new StringBuilder
    entries.foreach { e =>
      if (sb.length + e.length + 1 <= budget) {
        if (sb.nonEmpty) sb.append(','); sb.append(e): Unit
      }
    }
    sb.result()
  }

  private def jsonEscape(v: String): String = v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  /** One streaming-tape result: tape row count, tape dir, per-op wall
    * seconds (rows/s derives from rows + seconds at render time).
    */
  final case class StreamRes(rows: Int, sf: String, ops: Seq[(String, Double)])

  private def json(ok: Seq[(String, Double)], err: Seq[(String, String)],
      st: Option[StreamRes], stSmall: Option[StreamRes], sfDir: String, sweeps: Int): String = {
    val qs = ok.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val errs = err.map { case (k, m) => s""""${jsonEscape(k)}":"${jsonEscape(m)}"""" }
      .mkString("{", ",", "}")
    // headline total = steady entries only: the __cold dual reports are
    // additions and must not move the round-over-round total
    val total = ok.collect { case (k, v) if !k.endsWith("__cold") => v }.sum
    def streamJson(r: Option[StreamRes]): String = r match {
      case None => "{}"
      case Some(s) =>
        val secs = s.ops.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
        val rps = s.ops.map { case (k, v) =>
          f""""$k":${if (v > 0) s.rows / v else 0.0}%.0f""" }.mkString("{", ",", "}")
        s"""{"rows":${s.rows},"sf":"${s.sf}","ops_sec":$secs,"ops_rows_per_sec":$rps}"""
    }
    s"""{"metric":"headline_total","value":$total,"unit":"sec","sweeps":$sweeps,""" +
      s""""queries":$qs,"errors":$errs,"streaming":${streamJson(st)},""" +
      s""""streaming_small":${streamJson(stSmall)},"sf":"$sfDir"}"""
  }

  /** Write `content` under bench_runs/ WITHOUT ever overwriting: the
    * first free of base.json, base_2.json, base_3.json… is used. Round
    * 12 lost its only full sf10 sweep record because a later isolated
    * re-run computed the same `bench_${sf}_r${round}` name and
    * clobbered it before the first commit — durable artifacts must be
    * append-only. Best-effort (never fails the bench); returns the
    * path written, if any.
    */
  private[graft] def durableWrite(base: String, content: String,
      dirName: String = "bench_runs"): Option[java.nio.file.Path] =
    try {
      val dir = java.nio.file.Paths.get(dirName)
      java.nio.file.Files.createDirectories(dir)
      // CREATE_NEW makes the existence check atomic, so two concurrent
      // writers cannot both land on the same free name — the loser
      // just advances to the next one.
      (Iterator(dir.resolve(s"$base.json")) ++
        Iterator.from(2).map(i => dir.resolve(s"${base}_$i.json")))
        .take(10000).flatMap { p =>
          try {
            java.nio.file.Files.write(p, (content + "\n").getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            Some(p)
          } catch { case _: java.nio.file.FileAlreadyExistsException => None }
        }.nextOption()
    } catch { case _: Throwable => None }

  /** The next SF down from the bench dir (sf0.1 → sf0.01 → sf0.001),
    * for the second streaming tape; the smallest SF reuses itself.
    */
  private def smallerSf(sfDir: String): String = {
    // The ScaleUp rehearsal dirs step down one decade each (sf10 →
    // sf1 → the real sf0.1 they were generated from), so every
    // decade-up streaming pass gets the same two-tape intercept/slope
    // split as the driver's sf0.1 runs. sf10 is checked FIRST:
    // "testdata_sf10" would otherwise fall through both remaining
    // suffix checks and silently reuse its own full-size tape (the
    // r12 two-decade rehearsal ran its "small" tape at full sf10).
    if (sfDir.endsWith("testdata_sf10"))
      return sfDir.stripSuffix("testdata_sf10") + "testdata_sf1"
    if (sfDir.endsWith("testdata_sf1")) return "/root/testdata/sf0.1"
    val steps = Seq("sf0.1" -> "sf0.01", "sf0.01" -> "sf0.001")
    steps.collectFirst { case (big, small) if sfDir.endsWith(big) =>
      sfDir.stripSuffix(big) + small }.getOrElse(sfDir)
  }

  /** Infer the current round from the driver's committed BENCH_r*.json
    * files in the CWD (max + 1); SPARK_GRAFT_ROUND overrides.
    */
  private[graft] def nextRound(): Option[String] = {
    val re = "BENCH_r(\\d+)\\.json".r
    val files = Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
    val rounds = files.collect { case re(n) => n.toInt }
    if (rounds.isEmpty) None else Some((rounds.max + 1).toString.reverse.padTo(2, '0').reverse)
  }

  /** Streaming micro-bench: drive the bench SF's events table through
    * the stateful streaming twins as an in-order MemoryStream tape in
    * ~10 micro-batches (RocksDB state store, same session), and report
    * end-to-end seconds per operator — so streaming throughput is a
    * round-over-round number the way batch has been. The tape replays
    * REAL event data (key = user_id, event-time = ts), not synthetic
    * rows, so state cardinality and per-key traffic match the batch
    * queries' shapes. Emits per-op seconds AND rows/s (the tape's row
    * count over wall time) so two tape sizes expose per-row cost
    * separately from fixed micro-batch latency.
    */
  private def streamingSection(spark: org.apache.spark.sql.SparkSession, sfDir: String): StreamRes = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.{KeyedEvent, StreamingOps}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tape = Queries.events(spark, sfDir)
      .select(col("user_id").cast("long").as("k"), unix_micros(col("ts")).as("t"),
        col("value").cast("double").as("v"))
      .orderBy(col("t"), col("k"), col("v"))
      .collect().map(r => KeyedEvent(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batches = tape.grouped(math.max(1, tape.length / 10)).map(_.toSeq).toSeq
    def run(name: String, mode: OutputMode)(
        mk: org.apache.spark.sql.Dataset[KeyedEvent] => org.apache.spark.sql.DataFrame): (String, Double) = {
      val ms = MemoryStream[KeyedEvent]
      val t0 = System.nanoTime()
      val q = mk(ms.toDS()).writeStream.format("noop").outputMode(mode).start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      name -> (System.nanoTime() - t0) / 1e9
    }
    val cms: (String, Double) = {
      // the CMS twin streams (group, token) pairs; replay the same tape
      // as (event-key-bucket, user id) so group count and token traffic
      // are data-shaped
      val ms = MemoryStream[(String, String)]
      val pairs = tape.map(e => ((e.key % 8).toString, e.key.toString))
      val pb = pairs.grouped(math.max(1, pairs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.cmsFreq(ms.toDS(), 4, 256, (0L until 10L).map(_.toString))
        .toDF().writeStream.format("noop").outputMode(OutputMode.Update()).start()
      try pb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "cms_freq" -> (System.nanoTime() - t0) / 1e9
    }
    val asof: (String, Double) = {
      // the as-of twin streams tagged probe/quote records; replay the
      // tape with 2/3 quotes so the per-key buffer sees realistic
      // insert traffic and every probe pays a real buffer lookup
      val ms = MemoryStream[StreamingOps.AsofIn]
      val recs = tape.zipWithIndex.map { case (e, i) =>
        StreamingOps.AsofIn(e.key, e.tsUs, i.toLong, e.value, isRight = i % 3 != 0) }
      val rb = recs.grouped(math.max(1, recs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.asofJoin(ms.toDS()).toDF().writeStream.format("noop")
        .outputMode(OutputMode.Append()).start()
      try rb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "asof_join" -> (System.nanoTime() - t0) / 1e9
    }
    val funnel: (String, Double) = {
      // funnel twin streams typed events; derive the type from the
      // value band so per-user stage traffic is data-shaped
      val ms = MemoryStream[StreamingOps.FunnelEvent]
      val recs = tape.map { e =>
        val tpe = (e.value % 4).toInt match {
          case 0 => "signup"; case 1 => "click"; case 2 => "purchase"; case _ => "view"
        }
        StreamingOps.FunnelEvent(e.key, e.tsUs, tpe)
      }
      val rb = recs.grouped(math.max(1, recs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.funnel(ms.toDS()).toDF().writeStream.format("noop")
        .outputMode(OutputMode.Append()).start()
      try rb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "funnel" -> (System.nanoTime() - t0) / 1e9
    }
    val hll: (String, Double) = {
      // HLL twin streams (key-bucket, token) pairs — same tape shape
      // as the CMS twin, sketch-register state per bucket
      val ms = MemoryStream[(String, String)]
      val pairs = tape.map(e => ((e.key % 8).toString, e.key.toString))
      val pb = pairs.grouped(math.max(1, pairs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.hllDistinct(ms.toDF().toDF("key", "tok"), "key", "tok")
        .writeStream.format("noop").outputMode(OutputMode.Update()).start()
      try pb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "hll_distinct" -> (System.nanoTime() - t0) / 1e9
    }
    val hh: (String, Double) = {
      // MG twin streams the same (key-bucket, user id) pairs as the
      // CMS/HLL twins — ≤32-counter state per bucket
      val ms = MemoryStream[(String, String)]
      val pairs = tape.map(e => ((e.key % 8).toString, e.key.toString))
      val pb = pairs.grouped(math.max(1, pairs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.heavyHitters(ms.toDS(), 32)
        .toDF().writeStream.format("noop").outputMode(OutputMode.Update()).start()
      try pb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "heavy_hitters" -> (System.nanoTime() - t0) / 1e9
    }
    val drift: (String, Double) = {
      // drift twin streams (type, id, value) triples; derive the type
      // from the key bucket so per-type histogram traffic is data-shaped
      val ms = MemoryStream[StreamingOps.DriftIn]
      val recs = tape.zipWithIndex.map { case (e, i) =>
        StreamingOps.DriftIn((e.key % 8).toString, i.toLong, e.value) }
      val rb = recs.grouped(math.max(1, recs.length / 10)).map(_.toSeq).toSeq
      val t0 = System.nanoTime()
      val q = StreamingOps.drift(ms.toDS()).toDF().writeStream.format("noop")
        .outputMode(OutputMode.Update()).start()
      try rb.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      "drift" -> (System.nanoTime() - t0) / 1e9
    }
    val res = Seq(
      run("chunks_timeout", OutputMode.Append())(ds =>
        StreamingOps.chunksTimeout(ds, 32, 3_600_000_000L).toDF()),
      run("quantiles", OutputMode.Update())(ds =>
        StreamingOps.quantiles(ds).toDF()),
      run("sessionize", OutputMode.Append())(ds =>
        StreamingOps.sessionize(ds, 1_800_000_000L).toDF()),
      run("throttle", OutputMode.Append())(ds =>
        StreamingOps.throttleTime(ds, 60_000_000L).toDF()),
      run("timeout_monitor", OutputMode.Append())(ds =>
        StreamingOps.timeoutMonitor(ds, 3_600_000_000L).toDF()),
      run("candle_strat", OutputMode.Append())(ds =>
        StreamingOps.candleStrat(ds, 60_000_000L).toDF()),
      run("ewma", OutputMode.Append())(ds =>
        StreamingOps.ewma(ds).toDF()),
      run("cusum", OutputMode.Append())(ds =>
        StreamingOps.cusum(ds, targetCents = 10_000L, thresholdCents = 100_000L).toDF()),
      run("trend_slope", OutputMode.Append())(ds =>
        StreamingOps.trendSlope(ds).toDF()),
      cms, asof, funnel, hll, hh, drift)
    StreamRes(tape.length, sfDir, res)
  }
}
