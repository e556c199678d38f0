package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** The SKETCH + DISTRIBUTIONAL-STATS family (§2 rows 2b-2p2, 2i-2n): HLL/KLL/CMS/KMV/Misra-Gries, exact quantile machinery, moments, histograms, profiling.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesSketch { this: Queries.type =>

  /** Exact distinct users per window — the standard two-phase distinct
    * aggregation (partial dedup map-side, exact count after one shuffle).
    */
  private[graft] lazy val qDistinctUsers = GraftQuery(
    "q_distinct_users",
    (s, dir) =>
      Windows.tumbling(events(s, dir), "ts", Seq("event_type"), "1 day")(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_users"), col("n_events")),
    Some(s"""SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS window_start_us,
             event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, $nSql AS n_events
             FROM events GROUP BY 1, 2"""))


  /** Top-k per key (grouped rank) — per-key heaviest events; single
    * shuffle + per-key sort, no global sort.
    */
  private[graft] lazy val qTopkPerKey = GraftQuery(
    "q_topk_per_key",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rnk").cast("long").as("rnk"))
    },
    Some("""SELECT user_id, event_id, value, CAST(rnk AS BIGINT) AS rnk
            FROM (SELECT user_id, event_id, value,
                    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
                  FROM events)
            WHERE rnk <= 3"""))


  /** Pivot-style conditional aggregation: per-user counts by event type
    * in one scan (explicit FILTER/when columns — the portable, plan-
    * stable form of pivot; no second pass to discover column values).
    */
  private[graft] lazy val qPivotCounts = GraftQuery(
    "q_pivot_counts",
    (s, dir) => {
      val types = Seq("click", "purchase", "signup", "view", "error")
      events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n_total"),
          types.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_total,
              CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
              CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
              CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
              CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
              CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
            FROM events GROUP BY user_id"""))


  /** HLL++ approximate distinct users per event type — the sketch path
    * for cardinality at 100 TB (constant memory per group vs the exact
    * two-phase distinct). The HLL ESTIMATE itself is engine-specific
    * (Spark's HLL++ register layout), so the oracle-checked surface is
    * the sketch CONTRACT: the exact per-group cardinality plus a
    * within-band boolean |est − exact| ≤ 6%·exact + 2 (3× the rsd=0.02
    * the sketch was configured with, integer milli-arithmetic). DuckDB
    * recomputes the exact side and expects TRUE — a sketch regression
    * flips the boolean and fails the hash compare. Tighter per-run
    * accuracy is asserted in SketchSpec.
    */
  private[graft] lazy val qApproxDistinct = GraftQuery(
    "q_approx_distinct",
    (s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("__approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          (abs(col("__approx") - col("exact_users")) * 1000 <=
            col("exact_users") * 60 + 2000).as("within_band")),
    Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
              CAST(count(*) AS BIGINT) AS n, TRUE AS within_band
            FROM events GROUP BY event_type"""))


  /** Mergeable-distinct ROLLUP via DataSketches HLL (Spark's
    * hll_sketch_agg / hll_union_agg): per-source token sketches —
    * bounded binary state, map-side combinable — union into the
    * corpus-wide distinct estimate WITHOUT re-touching raw tokens.
    * This is the pre-aggregation pattern that answers "distinct tokens
    * this month" from stored per-day sketches at 100 TB: only the
    * union + estimate runs at query time. The estimate is
    * engine-specific, so the oracle-checked surface is the CONTRACT:
    * exact per-source distinct counts ride the same aggregation, the
    * exact global distinct rides a second pass (this is an EVALUATION
    * query — it exists to check the sketch against truth), and the
    * union estimate must land within the documented HLL band
    * (lgConfigK=12 → RSE ≈ 1.04/√4096 ≈ 1.6%; asserted at ±5% + 2).
    */
  private[graft] lazy val qHllRollup = GraftQuery(
    "q_hll_rollup",
    (s, dir) => {
      def toks = Fence.guard(t(s, dir, "documents")
          .select(col("source"), TextFns.tokensFast(col("text")).as("__tk")))
        .select(col("source"), explode(col("__tk")).as("tok"))
      val per = toks.groupBy("source")
        .agg(hll_sketch_agg(col("tok")).as("__sk"),
          countDistinct(col("tok")).as("__nd"))
      val roll = per.agg(count(lit(1)).as("n_sources"),
        sum(col("__nd")).as("sum_source_distinct"),
        hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
      val exact = toks.agg(countDistinct(col("tok")).as("n_exact_global"))
      roll.crossJoin(broadcast(exact))
        .select(col("n_sources"), col("sum_source_distinct"), col("n_exact_global"),
          (abs(col("__est") - col("n_exact_global")) * 1000 <=
            col("n_exact_global") * 50 + 2000).as("union_within_band"))
    },
    Some(s"""WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents),
             per AS (SELECT source, count(DISTINCT tok) AS nd FROM tk GROUP BY 1)
             SELECT CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(nd) AS BIGINT) AS sum_source_distinct,
               (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM tk) AS n_exact_global,
               TRUE AS union_within_band
             FROM per"""))


  /** Heavy-hitter tokens per source via the custom mergeable
    * Misra-Gries Aggregator (functions.Sketches) — k=32 counters per
    * group, NO per-token shuffle: map-side partials carry 32-entry
    * maps, so at 100 TB the exchange moves kB per group instead of the
    * token universe. The raw estimates are merge-order dependent, so
    * the oracle-checked surface is the MG CONTRACT, which is NOT:
    *  - `n_over` = |{token : freq·k > n}| — computable Spark-side from
    *    the sketch support ALONE (every true heavy hitter is guaranteed
    *    present; est ≤ exact always) via a broadcast recount of the
    *    ≤ k×sources candidates, and DuckDB-side from the full word
    *    count: if the sketch ever MISSED a true heavy hitter, the two
    *    disagree and the hash compare fails — the presence guarantee is
    *    cross-engine-checked without a Spark-side full wordcount;
    *  - `bounds_ok` = AND over entries of (est ≤ exact ∧
    *    (exact−est)·k ≤ n) — the undercount contract; DuckDB expects
    *    TRUE.
    * Per-entry accuracy is additionally asserted in SketchSpec.
    */
  private[graft] lazy val qHeavyHitters = GraftQuery(
    "q_heavy_hitters",
    (s, dir) => {
      val k = 32
      val mg = udaf(new graft.functions.MisraGries(k))
      def toks = Fence.guard(t(s, dir, "documents")
          .select(col("source"), TextFns.tokensFast(col("text")).as("__tk")))
        .select(col("source"), explode(col("__tk")).as("tok"))
      val entries = toks.groupBy(col("source"))
        .agg(mg(col("tok")).as("sketch"), count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"), explode(col("sketch")).as("entry"))
        .select(col("source"), col("n_tokens"),
          col("entry._1").as("tok"), col("entry._2").as("est"))
      toks.join(broadcast(entries), Seq("source", "tok"))
        .groupBy(col("source"), col("tok"), col("n_tokens"), col("est"))
        .agg(count(lit(1)).as("exact_count"))
        .groupBy(col("source"), col("n_tokens"))
        .agg(
          count(when(col("exact_count") * k > col("n_tokens"), 1)).as("n_over"),
          (count(when(col("est") <= col("exact_count") &&
            (col("exact_count") - col("est")) * k <= col("n_tokens"), 1)) ===
            count(lit(1))).as("bounds_ok"))
        .select(col("source"), col("n_tokens"), col("n_over"), col("bounds_ok"))
    },
    Some(s"""WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents),
             n AS (SELECT source, $nSql AS n_tokens FROM tk GROUP BY source),
             c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY source, tok)
             SELECT n.source AS source, n.n_tokens AS n_tokens,
               CAST(coalesce(sum(CASE WHEN c.c * 32 > n.n_tokens THEN 1 END), 0) AS BIGINT) AS n_over,
               TRUE AS bounds_ok
             FROM n LEFT JOIN c ON c.source = n.source
             GROUP BY n.source, n.n_tokens"""))


  /** VERIFIED heavy hitters per source: the deterministic half of the
    * Misra-Gries contract, made oracle-checkable. MG guarantees every
    * token with true frequency > n/k appears in its k-counter support
    * set (only the ESTIMATES are merge-order dependent), so sketch →
    * exact recount of the ≤k candidates → keep iff count·k > n yields
    * exactly {token : freq > n/k} — a plain SQL set. Scale shape: the
    * sketch pass moves 32-entry maps per group; the recount pass
    * semi-joins the corpus against a BROADCAST candidate list (≤ 32 ×
    * sources rows) — the token universe never shuffles in either pass.
    */
  private[graft] lazy val qHeavyHittersVerified = GraftQuery(
    "q_heavy_hitters_verified",
    (s, dir) => {
      val k = 32
      val mg = udaf(new graft.functions.MisraGries(k))
      def toks = Fence.guard(t(s, dir, "documents")
          .select(col("source"), TextFns.tokensFast(col("text")).as("__tk")))
        .select(col("source"), explode(col("__tk")).as("tok"))
      // one aggregation carries BOTH the sketch and the group total
      val candidates = toks.groupBy(col("source"))
        .agg(mg(col("tok")).as("sketch"), count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"), explode(col("sketch")).as("entry"))
        .select(col("source"), col("n_tokens"), col("entry._1").as("tok"))
      toks.join(broadcast(candidates), Seq("source", "tok"))
        .groupBy(col("source"), col("tok"), col("n_tokens"))
        .agg(count(lit(1)).as("exact_count"))
        .filter(col("exact_count") * k > col("n_tokens"))
        .select(col("source"), col("tok").as("token"),
          col("exact_count"), col("n_tokens"))
    },
    Some(s"""WITH tk AS (SELECT source, unnest($toksSql) AS token FROM documents),
             c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS exact_count
                   FROM tk GROUP BY source, token),
             n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
                   FROM tk GROUP BY source)
             SELECT c.source AS source, token, exact_count, n_tokens
             FROM c JOIN n ON c.source = n.source
             WHERE exact_count * 32 > n_tokens"""))


  /** COUNT-MIN frequency point-estimates per source (Cormode &
    * Muthukrishnan 2005) — the third mergeable sketch family next to
    * Misra-Gries (top-k) and HLL++ (distinct): constant-memory
    * arbitrary-key frequency queries. The custom Aggregator
    * (functions.CountMin) builds a 4×256 counter matrix per group —
    * map-side partials move one flat long array per group, never the
    * token universe — and the probe side is pure COLUMN arithmetic:
    * the same md5-affine row hashes (Sketches.tokenHash31 is
    * byte-identical to the TextFns.tokenHash31 expression, asserted in
    * SketchSpec) index the sketch array with element_at + least, so
    * estimating any literal key needs no second pass over the data.
    * Merge is elementwise sum → estimates are merge-order INDEPENDENT
    * (unlike MG), and the row-hash family is the portable md5-affine
    * one — so unlike HLL/MG the CMS estimate is EXACTLY reproducible in
    * SQL: DuckDB rebuilds each row's slot histogram as a group-by on
    * the same affine slot formula and takes the same least() over rows.
    * The oracle below does exactly that — the full estimate surface is
    * hash-compared cross-engine, not just a band. One-sided est ≥ exact
    * plus the ε·n overshoot are additionally asserted in SketchSpec.
    */
  private[graft] lazy val qCmsFreq = GraftQuery(
    "q_cms_freq",
    (s, dir) => {
      val depth = 4; val width = 256
      val cms = udaf(new graft.functions.CountMin(depth, width))
      val probes = Seq("the", "of", "and", "to", "a", "in", "data", "model", "stream", "query")
      val g = Fence.guard(t(s, dir, "documents")
          .select(col("source"), TextFns.tokensFast(col("text")).as("__tk")))
        .select(col("source"), explode(col("__tk")).as("tok"))
        .groupBy(col("source"))
        .agg(cms(col("tok")).as("sketch"), count(lit(1)).as("n_tokens"))
      g.select(col("source"), col("n_tokens"), col("sketch"),
          explode(array(probes.map(lit): _*)).as("token"))
        .withColumn("__h", TextFns.tokenHash31(col("token")))
        .select(col("source"), col("token"), col("n_tokens"),
          least((0 until depth).map { i =>
            element_at(col("sketch"),
              (lit(i * width) +
                ((lit(DedupFns.MinhashA(i)) * col("__h") + lit(DedupFns.MinhashB(i))) % M) % width
                + 1).cast("int"))
          }: _*).as("est_count"))
    },
    Some {
      val probes = Seq("the", "of", "and", "to", "a", "in", "data", "model", "stream", "query")
      def slot(i: Int, h: String) =
        s"((${DedupFns.MinhashA(i)} * $h + ${DedupFns.MinhashB(i)}) % $M) % 256"
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents),
          th AS (SELECT source, ${h31Sql("tok")} AS h FROM tk),
          n AS (SELECT source, $nSql AS n_tokens FROM th GROUP BY source),
          pr(token) AS (VALUES ${probes.map(p => s"('$p')").mkString(", ")}),
          ph AS (SELECT token, ${h31Sql("token")} AS h FROM pr),
          ${(0 until 4).map(i =>
            s"c$i AS (SELECT source, ${slot(i, "h")} AS s, CAST(count(*) AS BIGINT) AS c FROM th GROUP BY source, s)")
            .mkString(",\n          ")}
          SELECT n.source AS source, ph.token AS token, n.n_tokens AS n_tokens,
            least(${(0 until 4).map(i => s"coalesce(c$i.c, 0)").mkString(", ")}) AS est_count
          FROM n CROSS JOIN ph
          ${(0 until 4).map(i =>
            s"LEFT JOIN c$i ON c$i.source = n.source AND c$i.s = ${slot(i, "ph.h")}")
            .mkString("\n          ")}"""
    })


  /** Join-cardinality ESTIMATION — the optimizer statistic a 100 TB
    * planner needs before committing to a join order: |A ⋈ B| on a
    * key is the inner product of the two key-frequency vectors, and a
    * Count-Min sketch of each side estimates it as min over rows of
    * the row-wise counter inner product (Cormode-Muthukrishnan 2005
    * §4.2) — always an overestimate, error ≤ (e/width)·|A|·|B|. The
    * sketch build is two 1 KiB-bounded aggregations (the planning-time
    * cost); the exact Σ n_A(k)·n_B(k) is recomputed here only to make
    * the estimate's contract hash-checkable (over_ok: est ≥ exact;
    * bound_ok: (est − exact)·width ≤ 3·|A|·|B|), exactly as the other
    * sketch queries carry their recount. Clicks vs purchases on
    * user_id is the skew-shaped join this estimates.
    */
  private[graft] lazy val qJoinCardEst = GraftQuery(
    "q_join_card_est",
    (s, dir) => {
      val depth = 4; val width = 256
      val cms = udaf(new graft.functions.CountMin(depth, width))
      val ev = events(s, dir)
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").cast("string").as("u"))
      val skA = side("click").agg(cms(col("u")).as("sa"), count(lit(1)).as("n_click"))
      val skB = side("purchase").agg(cms(col("u")).as("sb"), count(lit(1)).as("n_purchase"))
      val exact = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(count(when(col("event_type") === "click", 1)).as("__na"),
          count(when(col("event_type") === "purchase", 1)).as("__nb"))
        .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("exact_card"))
      skA.crossJoin(skB).crossJoin(exact)
        .select(col("n_click"), col("n_purchase"), col("exact_card"),
          least((0 until depth).map(r =>
            VectorFns.qdotFast(slice(col("sa"), r * width + 1, width),
              slice(col("sb"), r * width + 1, width))): _*).as("est_card"))
        .select(col("n_click"), col("n_purchase"), col("exact_card"), col("est_card"),
          (col("est_card") >= col("exact_card")).as("over_ok"),
          ((col("est_card") - col("exact_card")) * lit(width.toLong) <=
            lit(3L) * col("n_click") * col("n_purchase")).as("bound_ok"))
    },
    Some {
      def slot(i: Int, h: String) =
        s"((${DedupFns.MinhashA(i)} * $h + ${DedupFns.MinhashB(i)}) % $M) % 256"
      val hists = (for (sd <- Seq("a", "b"); i <- 0 until 4) yield
        s"$sd$i AS (SELECT ${slot(i, "h")} AS s, CAST(count(*) AS BIGINT) AS c FROM h$sd GROUP BY 1)")
        .mkString(",\n            ")
      val ests = (0 until 4).map(i =>
        s"e$i AS (SELECT CAST(coalesce(sum(a$i.c * b$i.c), 0) AS BIGINT) AS v FROM a$i JOIN b$i USING (s))")
        .mkString(",\n            ")
      s"""WITH ca AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events WHERE event_type = 'click'),
            cb AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events WHERE event_type = 'purchase'),
            ha AS (SELECT ${h31Sql("u")} AS h FROM ca),
            hb AS (SELECT ${h31Sql("u")} AS h FROM cb),
            $hists,
            $ests,
            ex AS (SELECT CAST(coalesce(sum(x.na * y.nb), 0) AS BIGINT) AS exact_card FROM
              (SELECT user_id, CAST(count(*) AS BIGINT) AS na FROM events
               WHERE event_type = 'click' GROUP BY 1) x
              JOIN (SELECT user_id, CAST(count(*) AS BIGINT) AS nb FROM events
                    WHERE event_type = 'purchase' GROUP BY 1) y USING (user_id)),
            n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ca) AS n_click,
                         (SELECT CAST(count(*) AS BIGINT) FROM cb) AS n_purchase)
            SELECT n.n_click, n.n_purchase, ex.exact_card,
              least(e0.v, e1.v, e2.v, e3.v) AS est_card,
              least(e0.v, e1.v, e2.v, e3.v) >= ex.exact_card AS over_ok,
              (least(e0.v, e1.v, e2.v, e3.v) - ex.exact_card) * 256 <= 3 * n.n_click * n.n_purchase AS bound_ok
            FROM n, ex, e0, e1, e2, e3"""
    })


  /** Approximate value quantiles per event type (Greenwald-Khanna) —
    * the sketch path for percentiles. The sketch VALUES are
    * engine-specific, but the GK contract is not: each reported
    * quantile is an actual input value whose RANK lies within ±ε of the
    * target (ε = 1/accuracy; checked at 10×ε slack). The query rescans
    * the group once to compute the exact rank brackets of the sketch's
    * outputs — count(< v)·1000 ≤ (q‰+10)·n and count(≤ v)·1000 ≥
    * (q‰−10)·n, all-integer — and emits one boolean per quantile.
    * DuckDB recomputes n exactly and expects TRUE across the board, so
    * a rank-contract violation fails the hash compare. Tighter accuracy
    * is asserted in SketchSpec.
    */
  private[graft] lazy val qQuantiles = GraftQuery(
    "q_quantiles",
    (s, dir) => {
      val ev = events(s, dir)
      val sk = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(1000))
          .as("qs"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("__p50"),
          element_at(col("qs"), 2).as("__p95"),
          element_at(col("qs"), 3).as("__p99"))
      def okQ(p: String, qMilli: Int): Column =
        (count(when(col("value") < col(p), 1)) * 1000 <= lit(qMilli + 10) * count(lit(1))) &&
          (count(when(col("value") <= col(p), 1)) * 1000 >= lit(qMilli - 10) * count(lit(1)))
      ev.join(broadcast(sk), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          okQ("__p50", 500).as("ok50"), okQ("__p95", 950).as("ok95"),
          okQ("__p99", 990).as("ok99"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              TRUE AS ok50, TRUE AS ok95, TRUE AS ok99
            FROM events GROUP BY event_type"""))


  /** EXACT per-group quantiles (Spark `percentile`, linear
    * interpolation — same definition as DuckDB quantile_cont) — the
    * exact counterpart of the q_quantiles sketch path; round(4) caps
    * the only float-op divergence surface.
    */
  private[graft] lazy val qQuantilesExact = GraftQuery(
    "q_quantiles_exact",
    (s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(expr("percentile(value, array(0.5, 0.95, 0.99))").as("qs"))
        .select(col("event_type"),
          round(element_at(col("qs"), 1), 4).as("p50"),
          round(element_at(col("qs"), 2), 4).as("p95"),
          round(element_at(col("qs"), 3), 4).as("p99")),
    Some("""SELECT event_type,
              round(quantile_cont(value, 0.5), 4) AS p50,
              round(quantile_cont(value, 0.95), 4) AS p95,
              round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type"""))


  /** Exact Spearman components per source: Σd² between each doc's
    * token-count rank and quality rank (ties broken on doc_id, so the
    * ranks — and therefore Σd² — are engine-identical integers; ρ =
    * 1 − 6Σd²/(n(n²−1)) is derivable offline without ever computing a
    * float here). The "does length predict quality" question answered
    * with two row_number windows sharing ONE source partitioning.
    */
  private[graft] lazy val qRankCorr = GraftQuery(
    "q_rank_corr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val enIdx = TextFns.Stopwords.keys.toSeq.sorted.indexOf("en") + 1
      val sig = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("__c"),
          TextFns.textStatsFast(col("text")).as("__ts"),
          TextFns.langScoresFast(TextFns.tokensFast(col("text"))).as("__ls"))
        .select(col("doc_id"), col("source"),
          element_at(col("__ts"), 1).as("nt"),
          (least(lit(40L), (col("__c") / lit(10L)).cast("long")) +
            least(lit(30L), (element_at(col("__ls"), enIdx) * 100L /
              greatest(element_at(col("__ts"), 1), lit(1L))).cast("long")) -
            least(lit(20L), (element_at(col("__ts"), 2) * 100L /
              greatest(col("__c"), lit(1L))).cast("long"))).as("quality"))
      sig
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("nt"), col("doc_id"))))
        .withColumn("rq", row_number().over(
          Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum((col("rn") - col("rq")) * (col("rn") - col("rq"))).cast("long").as("d2_sum"))
    },
    Some(s"""WITH tq AS (SELECT doc_id, source,
                  CAST(length(text) AS BIGINT) AS c,
                  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS BIGINT) AS t,
                  CAST(len(list_filter($toksSql, t2 -> list_contains([${TextFns.Stopwords("en").map(w => s"'$w'").mkString(", ")}], t2))) AS BIGINT) AS sw,
                  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS pq
                FROM documents),
             qual AS (SELECT doc_id, source, t AS nt,
                        least(40, c // 10) + least(30, (sw * 100) // greatest(t, 1))
                          - least(20, (pq * 100) // greatest(c, 1)) AS quality
                      FROM tq),
             r AS (SELECT source,
                     row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rn,
                     row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rq
                   FROM qual)
             SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum((rn - rq) * (rn - rq)) AS BIGINT) AS d2_sum
             FROM r GROUP BY source"""))


  /** Per-source drift detection: pairwise L1 (total-variation×2)
    * distance between token-count histograms, in exact milli-units.
    * The ONLY fact-table shuffle is the per-(source, bucket) count —
    * everything after operates on the tiny histogram (sources ×
    * buckets), so at 100 TB the pairwise comparison costs nothing no
    * matter how many source pairs exist. Shares are floor-divided
    * milli fractions (exact in both engines); missing buckets
    * contribute their full mass via the grid outer-coalesce.
    */
  private[graft] lazy val qHistDistance = GraftQuery(
    "q_hist_distance",
    (s, dir) => {
      val hist = t(s, dir, "documents")
        .select(col("source"), size(TextFns.tokensFast(col("text"))).cast("long").as("nt"))
        .select(col("source"), expr("nt div 8").as("bucket"))
        .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("cnt"))
      // the histogram is tiny (sources × buckets); localCheckpoint makes
      // it a leaf so its five downstream references (two join sides,
      // sources ×2, buckets) cost ONE fact pass, not five logical copies
      val milli = hist
        .withColumn("total", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
        .select(col("source"), col("bucket"), expr("cnt * 1000 div total").as("milli"))
        .localCheckpoint()
      val srcs = milli.select(col("source")).distinct()
      val pairs = srcs.as("sa").crossJoin(srcs.as("sb"))
        .filter(col("sa.source") < col("sb.source"))
        .select(col("sa.source").as("source_a"), col("sb.source").as("source_b"))
      val buckets = milli.select(col("bucket").as("bk")).distinct()
      pairs.crossJoin(broadcast(buckets))
        .join(broadcast(milli.as("ma")),
          col("source_a") === col("ma.source") && col("bk") === col("ma.bucket"), "left")
        .join(broadcast(milli.as("mb")),
          col("source_b") === col("mb.source") && col("bk") === col("mb.bucket"), "left")
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(abs(coalesce(col("ma.milli"), lit(0L)) - coalesce(col("mb.milli"), lit(0L))))
          .as("l1_milli"))
    },
    Some(s"""WITH t0 AS (SELECT source, len($toksSql) AS nt FROM documents),
             h AS (SELECT source, nt // 8 AS bucket, count(*) AS cnt FROM t0 GROUP BY 1, 2),
             m AS (SELECT source, bucket,
                     cnt * 1000 // sum(cnt) OVER (PARTITION BY source) AS milli FROM h),
             s AS (SELECT DISTINCT source FROM m),
             p AS (SELECT a.source AS source_a, b.source AS source_b
                   FROM s a JOIN s b ON a.source < b.source),
             bk AS (SELECT DISTINCT bucket FROM m)
             SELECT source_a, source_b,
               CAST(sum(abs(coalesce(ma.milli, 0) - coalesce(mb.milli, 0))) AS BIGINT) AS l1_milli
             FROM p CROSS JOIN bk
             LEFT JOIN m ma ON ma.source = p.source_a AND ma.bucket = bk.bucket
             LEFT JOIN m mb ON mb.source = p.source_b AND mb.bucket = bk.bucket
             GROUP BY source_a, source_b"""))


  /** Robust center/spread per event_type: exact lower-median and
    * median-absolute-deviation in integer cents, both defined by
    * row_number rank (rk = (n+1) div 2 over (value, event_id)) — the
    * float-free twin of q_outliers' rank-cutoff idea, so every engine
    * picks the identical row. Two keyed window shuffles (value rank,
    * then deviation rank) + a broadcast of the 5-row median table; no
    * interpolation, no epsilon reasoning.
    */
  private[graft] lazy val qMad = GraftQuery(
    "q_mad",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // isNotNull pre-materialized (the med join would infer it on one
      // branch only) + keepAll: the ranked frame feeds BOTH the median
      // extraction and the deviation pass, and without the fence the
      // med branch's pruned copy de-canonicalized the type exchange
      // and re-scanned the fact (PlanAudit)
      val ev = events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      val r = Fence.keepAll(ev
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type"))))
      // the median table is 5 rows; carrying med_cents + n through the
      // deviation pass means the ranked subtree is consumed once and
      // med joins once — no repeated fact passes
      val med = r.groupBy(col("event_type"))
        .agg(max(when(expr("rk = (n + 1) div 2"), col("cents"))).as("med_cents"),
          max(col("n")).as("n"))
      r.join(broadcast(med.select(col("event_type").as("et"), col("med_cents"), col("n").as("nn"))),
          col("event_type") === col("et"))
        .select(col("event_type"), col("event_id"), col("nn"), col("med_cents"),
          abs(col("cents") - col("med_cents")).as("ad"))
        .withColumn("rk2", row_number().over(
          Window.partitionBy("event_type").orderBy(col("ad"), col("event_id"))))
        .groupBy(col("event_type"))
        .agg(max(col("nn")).as("n"), max(col("med_cents")).as("med_cents"),
          max(when(expr("rk2 = (nn + 1) div 2"), col("ad"))).as("mad_cents"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events
                WHERE event_type IS NOT NULL),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rk,
                    count(*) OVER (PARTITION BY event_type) AS n FROM ev),
            m AS (SELECT event_type, max(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS med_cents,
                    max(n) AS n FROM r GROUP BY 1),
            d AS (SELECT r.event_type, r.event_id, abs(r.cents - m.med_cents) AS ad, m.n
                  FROM r JOIN m USING (event_type)),
            r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rk2
                   FROM d)
            SELECT r2.event_type, CAST(max(r2.n) AS BIGINT) AS n, max(m.med_cents) AS med_cents,
              max(CASE WHEN rk2 = (r2.n + 1) // 2 THEN ad END) AS mad_cents
            FROM r2 JOIN m ON r2.event_type = m.event_type
            GROUP BY r2.event_type"""))


  /** Winsorized mean per event_type: values clamped to the exact
    * [p05, p95] rank cutoffs before averaging — the robust mean that
    * completes q_mad (spread) and q_outliers (cutoff). Cutoff VALUES
    * are picked by integer row_number rank over (cents, event_id), so
    * every engine clamps the identical rows; the mean is a floor
    * division. One keyed rank window + a 5-row broadcast back-join.
    */
  private[graft] lazy val qWinsorMean = GraftQuery(
    "q_winsor_mean",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // canonicality treatment (see q_mad): the ranked frame feeds the
      // cuts aggregate AND the clamp/fence pass — keepAll + explicit
      // isNotNull keep both copies riding ONE type exchange
      val ev = events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      val r = Fence.keepAll(ev
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type"))))
      val cuts = r.groupBy(col("event_type"))
        .agg(max(when(expr("rk = (n * 5) div 100 + 1"), col("cents"))).as("lo_cents"),
          max(when(expr("rk = (n * 95) div 100"), col("cents"))).as("hi_cents"))
      r.join(broadcast(cuts.withColumnRenamed("event_type", "et")),
          col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("lo_cents")).as("lo_cents"), max(col("hi_cents")).as("hi_cents"),
          expr("sum(greatest(lo_cents, least(hi_cents, cents))) div count(1)")
            .as("winsor_mean_cents"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events
                WHERE event_type IS NOT NULL),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rk,
                    count(*) OVER (PARTITION BY event_type) AS n FROM ev),
            c AS (SELECT event_type,
                    max(CASE WHEN rk = (n * 5) // 100 + 1 THEN cents END) AS lo_cents,
                    max(CASE WHEN rk = (n * 95) // 100 THEN cents END) AS hi_cents
                  FROM r GROUP BY 1)
            SELECT r.event_type, CAST(count(*) AS BIGINT) AS n,
              max(c.lo_cents) AS lo_cents, max(c.hi_cents) AS hi_cents,
              CAST(sum(greatest(c.lo_cents, least(c.hi_cents, r.cents))) // count(*) AS BIGINT)
                AS winsor_mean_cents
            FROM r JOIN c USING (event_type)
            GROUP BY r.event_type"""))


  /** Percentile-rank feature normalization per source: each doc's
    * token count mapped to its exact rank position in [0, 1000] milli
    * ((rk−1)·1000 div (n−1)) — the distribution-free normalization a
    * mixture recipe uses to compare length profiles across sources.
    * Rank ties break on doc_id, so every engine assigns identical
    * positions; one keyed window shuffle, no floats.
    */
  private[graft] lazy val qRankNorm = GraftQuery(
    "q_rank_norm",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextFns.tokensFast(col("text"))).cast("long").as("nt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("nt"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("nt"),
          when(col("n") > 1, expr("(rk - 1) * 1000 div (n - 1)")).otherwise(lit(0L))
            .as("rank_milli"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             r AS (SELECT *,
                     row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rk,
                     count(*) OVER (PARTITION BY source) AS n FROM t0)
             SELECT doc_id, source, nt,
               CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000 // (n - 1) ELSE 0 END AS BIGINT) AS rank_milli
             FROM r"""))


  /** Exact quantile GRID + IQR outlier counts per event_type, all by
    * integer row_number rank: q1/med/q3 picked at ranks ⌈n·p⌉, the
    * 1.5·IQR fences applied by cross-multiplication (2·cents vs
    * 2·bound keeps halves integral: lo = 2·q1·... — here fences are
    * whole cents via 2·q3−2·q1 scaled), and the outlier counts
    * conditional sums — ONE rank window + one broadcast back-join,
    * everything engine-identical. Completes q_mad/q_winsor_mean into
    * the full boxplot.
    */
  private[graft] lazy val qIqr = GraftQuery(
    "q_iqr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // canonicality treatment (see q_mad): the ranked frame feeds the
      // cuts aggregate AND the clamp/fence pass — keepAll + explicit
      // isNotNull keep both copies riding ONE type exchange
      val ev = events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      val r = Fence.keepAll(ev
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type"))))
      val cuts = r.groupBy(col("event_type"))
        .agg(max(when(expr("rk = (n * 25 + 99) div 100"), col("cents"))).as("q1_cents"),
          max(when(expr("rk = (n * 50 + 99) div 100"), col("cents"))).as("med_cents"),
          max(when(expr("rk = (n * 75 + 99) div 100"), col("cents"))).as("q3_cents"))
      // fences in DOUBLED cents so 1.5·IQR stays integral:
      // lo = 2·q1 − 3·(q3−q1), hi = 2·q3 + 3·(q3−q1); compare 2·cents
      r.join(broadcast(cuts.withColumnRenamed("event_type", "et")),
          col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("q1_cents")).as("q1_cents"), max(col("med_cents")).as("med_cents"),
          max(col("q3_cents")).as("q3_cents"),
          sum(when(expr("2 * cents < 2 * q1_cents - 3 * (q3_cents - q1_cents)"), 1L)
            .otherwise(0L)).as("n_below"),
          sum(when(expr("2 * cents > 2 * q3_cents + 3 * (q3_cents - q1_cents)"), 1L)
            .otherwise(0L)).as("n_above"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events
                WHERE event_type IS NOT NULL),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rk,
                    count(*) OVER (PARTITION BY event_type) AS n FROM ev),
            c AS (SELECT event_type,
                    max(CASE WHEN rk = (n * 25 + 99) // 100 THEN cents END) AS q1_cents,
                    max(CASE WHEN rk = (n * 50 + 99) // 100 THEN cents END) AS med_cents,
                    max(CASE WHEN rk = (n * 75 + 99) // 100 THEN cents END) AS q3_cents
                  FROM r GROUP BY 1)
            SELECT r.event_type, CAST(count(*) AS BIGINT) AS n,
              max(c.q1_cents) AS q1_cents, max(c.med_cents) AS med_cents,
              max(c.q3_cents) AS q3_cents,
              CAST(sum(CASE WHEN 2 * r.cents < 2 * c.q1_cents - 3 * (c.q3_cents - c.q1_cents)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
              CAST(sum(CASE WHEN 2 * r.cents > 2 * c.q3_cents + 3 * (c.q3_cents - c.q1_cents)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above
            FROM r JOIN c USING (event_type)
            GROUP BY r.event_type"""))


  /** Exact integer GINI coefficient of value per event_type — the
    * inequality measure for spend/engagement concentration, computed
    * entirely from integer ranks and sums: G·1000 = (2·Σ(i·xᵢ) −
    * (n+1)·Σx)·1000 div (n·Σx) with i the (cents, event_id) rank. One
    * keyed rank window, one aggregation, no floats anywhere.
    *
    * Exactness bound: Σ(i·cents) must fit int64, i.e. n²·avg_cents <
    * 2⁶³ — fine to ~10⁸ rows per event_type at ~10⁴ cents. Beyond
    * that Spark's non-ANSI sum wraps silently while DuckDB promotes to
    * HUGEINT, so cross-engine results diverge: for larger groups cast
    * `__s1`'s operand to decimal(38,0) (costlier, unbounded) before
    * summing.
    */
  private[graft] lazy val qGini = GraftQuery(
    "q_gini",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .withColumn("i", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          sum(col("i") * col("cents")).as("__s1"))
        .select(col("event_type"), col("n"), col("sum_cents"),
          expr("(2 * __s1 - (n + 1) * sum_cents) * 1000 div (n * sum_cents)").as("gini_milli"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS i
                  FROM ev)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(cents) AS BIGINT) AS sum_cents,
              CAST((2 * sum(i * cents) - (count(*) + 1) * sum(cents)) * 1000
                   // (count(*) * sum(cents)) AS BIGINT) AS gini_milli
            FROM r GROUP BY event_type"""))


  /** Deterministic BOOTSTRAP: 10 resampling replicates of the global
    * mean value, with multiplicities derived from md5(event_id · b) —
    * each event appears 0/1/2 times per replicate (mean 1), so the
    * replicate spread estimates sampling variance with ZERO RNG state
    * (rerun-identical, like every recipe op here). The explode is a
    * bounded ×10 fan-out of (replicate, multiplicity) pairs; means are
    * exact floor-divided cents.
    */
  private[graft] lazy val qBootstrap = GraftQuery(
    "q_bootstrap",
    (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .select(col("event_id"), col("cents"), explode(sequence(lit(0L), lit(9L))).as("b"))
        .select(col("b"), col("cents"),
          (conv(substring(md5(concat(col("event_id").cast("string"), lit("_"),
            col("b").cast("string"))), 1, 6), 16, 10).cast("long") % 3).as("mult"))
        .groupBy(col("b"))
        .agg(sum(col("mult")).as("n_eff"),
          expr("sum(mult * cents) div greatest(sum(mult), 1)").as("mean_cents")),
    Some("""WITH ev AS (SELECT event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
            x AS (SELECT event_id, cents, unnest(range(0, 10)) AS b FROM ev),
            m AS (SELECT b, cents,
                    ('0x' || substr(md5(event_id || '_' || b), 1, 6))::BIGINT % 3 AS mult
                  FROM x)
            SELECT b, CAST(sum(mult) AS BIGINT) AS n_eff,
              CAST(sum(mult * cents) // greatest(sum(mult), 1) AS BIGINT) AS mean_cents
            FROM m GROUP BY b"""))


  /** EXACT global median without a global sort — the 100 TB order-
    * statistic pattern: (1) one aggregation builds a bounded value-
    * bucket histogram (cents div 1000), (2) a cumulative walk over the
    * TINY histogram locates the bucket holding the target rank and its
    * in-bucket offset, (3) a second pass ranks ONLY that bucket's rows
    * (bounded by the bucket width, not the corpus). Two scans beat one
    * global sort at scale; every rank is an integer, ties break on
    * event_id. The oracle does the straightforward global rank — same
    * row, different plan.
    */
  private[graft] lazy val qGlobalMedian = GraftQuery(
    "q_global_median",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("event_id"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      val hist = ev.select(expr("cents div 1000").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      // the cumulative walk's unpartitioned window runs over the BUCKET
      // HISTOGRAM (cardinality = value range / 1000, never the corpus) —
      // the WindowExec single-partition warning it triggers is expected
      // and bounded, not a scale bug; the per-row refine pass below is
      // keyed (PlanSpec pins windowspecdefinition(med_bucket))
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(lit(1))))
      val medb = cum
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .orderBy(col("bucket")).limit(1)
        .select(col("bucket").as("med_bucket"),
          expr("(n + 1) div 2 - (cum - cnt)").as("offset"), col("n"))
      ev.crossJoin(broadcast(medb))
        .filter(expr("cents div 1000") === col("med_bucket"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("med_bucket").orderBy(col("cents"), col("event_id"))))
        .filter(col("rk") === col("offset"))
        .select(col("n"), col("cents").as("median_cents"))
    },
    Some("""WITH ev AS (SELECT event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
            r AS (SELECT cents, row_number() OVER (ORDER BY cents, event_id) AS rk,
                    count(*) OVER () AS n FROM ev)
            SELECT CAST(max(n) AS BIGINT) AS n,
              max(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS median_cents
            FROM r"""))


  /** Per-type outlier trim (top-5% by value): the cutoff is defined by
    * RANK, not by an interpolated quantile, so every comparison is
    * exact integer arithmetic — cut position = (n*95) div 100 over
    * rows ordered by (cents, event_id), rows above it are outliers.
    * One shuffle + per-type sort for the rank; the per-type totals ride
    * the same sorted run. Reports the cutoff value and the mass above
    * it (the winsorization a feature pipeline applies to heavy tails).
    */
  private[graft] lazy val qOutliers = GraftQuery(
    "q_outliers",
    (s, dir) => {
      val cents = (col("value").cast(dec) * 100).cast("long")
      Keyed.rankCutoff(
          events(s, dir).select(col("event_type"), col("event_id"), cents.as("__cents")),
          Seq("event_type"), Seq(col("__cents"), col("event_id")), permille = 950)
        .groupBy("event_type")
        .agg(max(col("__n")).as("n"),
          max(when(col("__rn") === col("__cut"), col("__cents"))).as("cut_cents"),
          count(when(col("__rn") > col("__cut"), 1)).as("n_above"),
          sum(when(col("__rn") > col("__cut"), col("__cents"))).as("sum_above_cents"))
    },
    Some("""WITH r AS (
              SELECT event_type,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events)
            SELECT event_type, CAST(max(n) AS BIGINT) AS n,
              max(CASE WHEN rn = (n * 95) // 100 THEN cents END) AS cut_cents,
              CAST(sum(CASE WHEN rn > (n * 95) // 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
              CAST(sum(CASE WHEN rn > (n * 95) // 100 THEN cents END) AS BIGINT) AS sum_above_cents
            FROM r GROUP BY event_type"""))


  /** Multi-level rollup (corpus → per-source → per-source-per-lang
    * totals in ONE scan): Spark `rollup` = DuckDB GROUPING SETS. Group
    * keys are coalesced to a sentinel and the grouping bitmask rides
    * along, so no NULL ever reaches the cross-engine compare. Rollup
    * is partial-agg friendly — one shuffle, no per-level rescan.
    */
  private[graft] lazy val qRollupStats = GraftQuery(
    "q_rollup_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          grouping_id().as("gid"))
        .select(coalesce(col("source"), lit("<all>")).as("source"),
          coalesce(col("lang"), lit("<all>")).as("lang"),
          col("n_docs"), col("sum_chars"), col("gid").cast("long").as("gid")),
    Some("""SELECT COALESCE(source, '<all>') AS source,
              COALESCE(lang, '<all>') AS lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              CAST(GROUPING(source, lang) AS BIGINT) AS gid
            FROM documents GROUP BY ROLLUP (source, lang)"""))


  /** Column profiling (completeness + cardinality per column in ONE
    * scan): null counts and exact distinct counts for every events
    * column, unpivoted to a tall (column, stat) table. Multi-column
    * exact distincts plan as one Expand (scan×k) — the exact-profiling
    * cost; swap countDistinct for approx_count_distinct at 100 TB when
    * ±2% suffices. All-integer output, no float surface.
    */
  private[graft] lazy val qProfile = GraftQuery(
    "q_profile",
    (s, dir) => {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val aggs = count(lit(1)).as("__n") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
          countDistinct(col(c)).as(s"__${c}_distinct")))
      val stackArgs = cols.map(c => s"'$c', __${c}_nulls, __${c}_distinct").mkString(", ")
      events(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(col("__n"), expr(s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct)"))
        .select(col("col_name"), col("__n").as("n_rows"),
          col("n_nulls").cast("long").as("n_nulls"),
          col("n_distinct").cast("long").as("n_distinct"))
    },
    Some("""WITH s AS (
              SELECT 'event_id' AS col_name, count(*) AS n_rows,
                sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                count(DISTINCT event_id) AS n_distinct FROM events
              UNION ALL SELECT 'ts', count(*),
                sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), count(DISTINCT ts) FROM events
              UNION ALL SELECT 'user_id', count(*),
                sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), count(DISTINCT user_id) FROM events
              UNION ALL SELECT 'event_type', count(*),
                sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END), count(DISTINCT event_type) FROM events
              UNION ALL SELECT 'value', count(*),
                sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), count(DISTINCT value) FROM events
              UNION ALL SELECT 'props', count(*),
                sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), count(DISTINCT props) FROM events)
            SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_nulls AS BIGINT) AS n_nulls, CAST(n_distinct AS BIGINT) AS n_distinct
            FROM s"""))


  /** Cumulative DISTINCT count per key (how many distinct event types
    * has this user produced so far) — count(DISTINCT) over a running
    * frame, which neither engine supports directly, re-expressed
    * exactly as first-occurrence flags (`row_number == 1` per
    * (key, value)) running-summed per key. Two keyed windows = two
    * shuffles; both exact, no state blowup — the flag trick replaces a
    * per-row distinct set.
    */
  private[graft] lazy val qRunningDistinct = GraftQuery(
    "q_running_distinct",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wFirst = Window.partitionBy("user_id", "event_type")
        .orderBy(col("__us"), col("event_id"))
      val wRun = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("__us"))
        .withColumn("__new", when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("__new")).over(wRun).as("n_types_seen"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
             f AS (SELECT event_id, user_id, us,
                     CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                                  ORDER BY us, event_id) = 1
                          THEN 1 ELSE 0 END AS newf
                   FROM e)
             SELECT event_id, user_id,
               CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
             FROM f"""))


  /** Exact quantile binning (KBinsDiscretizer-style feature
    * engineering): each event's value is assigned its per-type decile
    * by integer RANK — bin = ((rank-1)*10) div n — so bin edges are
    * never interpolated floats and the assignment is engine-portable.
    * Composes Keyed.rankCutoff's rank machinery: one shuffle + one
    * per-key sort.
    */
  private[graft] lazy val qDecileBin = GraftQuery(
    "q_decile_bin",
    (s, dir) => {
      val cents = (col("value").cast(dec) * 100).cast("long")
      Keyed.rankCutoff(
          events(s, dir).select(col("event_type"), col("event_id"), cents.as("__cents")),
          Seq("event_type"), Seq(col("__cents"), col("event_id")), permille = 1000)
        .select(col("event_id"), col("event_type"),
          expr("((__rn - 1) * 10) div __n").as("decile"))
    },
    Some("""WITH r AS (
              SELECT event_id, event_type,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM events)
            SELECT event_id, event_type,
              CAST((rn - 1) * 10 // n AS BIGINT) AS decile
            FROM r"""))


  /** Fixed-width value histogram per event type — the profiling view a
    * pipeline keeps per numeric column. Bucketing is a map-only
    * projection (floor of an IEEE-identical double division), then one
    * partial-agg shuffle on (type, bucket); bucket cardinality is
    * bounded by the value range, never by row count.
    */
  private[graft] lazy val qValueHistogram = GraftQuery(
    "q_value_histogram",
    (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value")),
    Some(s"""SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               $nSql AS n, $sumValSql AS sum_value
             FROM events GROUP BY 1, 2"""))


  /** KMV (k-minimum-values) sketch set-intersection across sources
    * (Beyer et al., SIGMOD'07; Cohen & Kaplan's bottom-k): per source,
    * the 64 smallest distinct 60-bit token hashes form a bounded-size
    * vocabulary sketch; any source PAIR is then compared in O(k) via
    * the inclusion rule — members of both sketches that survive into
    * the k smallest of the merged sketch estimate Jaccard as ρ = c/k.
    * Emits the CONTRACT values (k-th minima of each sketch and of the
    * union sketch, the common-survivor count, and ρ in exact milli),
    * all deterministic integers — the same hash-checked-sketch
    * discipline as q_cms_freq/q_heavy_hitters.
    *
    * Scale: the sketch build is one distinct + one bounded rank-cutoff
    * per source (at production vocabularies, a two-pass h < t prefilter
    * from a first-pass per-source count bounds the sort input before
    * the window, same as the LSH occupancy rule); the pair frame is
    * |sources|² rows of 64-element arrays — a tiny dim×dim frame, never
    * per-token all-pairs.
    */
  private[graft] lazy val qKmvOverlap = GraftQuery(
    "q_kmv_overlap",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hs = t(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokensFast(col("text"))).as("t"))
        .select(col("source"), TextFns.tokenHash(col("t")).as("h"))
        .distinct()
      val sk = hs
        .withColumn("__rn", row_number().over(Window.partitionBy("source").orderBy("h")))
        .filter(col("__rn") <= 64)
        .groupBy("source")
        .agg(sort_array(collect_list(col("h"))).as("sk"))
      val a = sk.select(col("source").as("src_a"), col("sk").as("__ska"))
      val b = sk.select(col("source").as("src_b"), col("sk").as("__skb"))
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .withColumn("__mk", slice(array_sort(array_union(col("__ska"), col("__skb"))), 1, 64))
        .select(col("src_a"), col("src_b"),
          element_at(col("__ska"), size(col("__ska"))).as("kmv_a"),
          element_at(col("__skb"), size(col("__skb"))).as("kmv_b"),
          element_at(col("__mk"), size(col("__mk"))).as("kmv_union"),
          size(array_intersect(col("__mk"), array_intersect(col("__ska"), col("__skb"))))
            .cast("long").as("n_common"),
          size(col("__mk")).cast("long").as("__mlen"))
        .withColumn("est_jacc_milli", expr("n_common * 1000 div __mlen"))
        .drop("__mlen")
    },
    Some(s"""WITH t0 AS (SELECT source, unnest($toksSql) AS t FROM documents),
            hs AS (SELECT DISTINCT source, ${h60Sql("t")} AS h FROM t0),
            rk AS (SELECT source, h,
                     row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                   FROM hs),
            sk AS (SELECT source, list_sort(list(h)) AS sk FROM rk WHERE rn <= 64 GROUP BY source),
            pr AS (SELECT a.source AS src_a, b.source AS src_b, a.sk AS ska, b.sk AS skb
                   FROM sk a JOIN sk b ON a.source < b.source),
            m AS (SELECT src_a, src_b, ska, skb,
                    list_slice(list_sort(list_distinct(list_concat(ska, skb))), 1, 64) AS mk
                  FROM pr)
            SELECT src_a, src_b,
              ska[len(ska)] AS kmv_a, skb[len(skb)] AS kmv_b, mk[len(mk)] AS kmv_union,
              CAST(len(list_intersect(mk, list_intersect(ska, skb))) AS BIGINT) AS n_common,
              CAST(len(list_intersect(mk, list_intersect(ska, skb))) * 1000 // len(mk) AS BIGINT) AS est_jacc_milli
            FROM m"""))


  /** Exact higher-moment sufficient statistics per key: n and the
    * power sums Σx..Σx⁴ in integer cents, the map-side-combinable form
    * from which variance/skewness/kurtosis derive — plus the assembled
    * central-moment numerators m2num = n·S2 − S1² and
    * m3num = n²·S3 − 3n·S2·S1 + 2·S1³ and the skew sign. Everything is
    * DECIMAL(38,0)/HUGEINT-exact on both engines (x⁴ alone can exceed
    * int64 at cents ≥ 55k, and S1³ exceeds it from ~sf1), so there is
    * no float anywhere — the cross-engine-portable way to ship
    * "skewness at 100 TB" is these sums, combined associatively.
    *
    * The big sums cross the contract surface as CANONICAL DIGIT
    * STRINGS, not decimals: a DECIMAL(38,0) parquet column is exact in
    * both engines, but the two client render paths diverge — pyarrow
    * reads it as Python Decimal ("-42"), while duckdb 1.0's .df()
    * downcasts every DECIMAL to float64 ("-42.0", and lossy past 2^53)
    * — so any stringified-cell hash of the same exact values
    * mismatches. A string column renders identically everywhere.
    * S1 is likewise summed IN decimal (a plain long sum would wrap
    * silently past 2^63 ≈ n·|cents| at corpus scale, where the
    * HUGEINT→BIGINT oracle cast errors instead of wrapping).
    */
  private[graft] lazy val qMoments = GraftQuery(
    "q_moments",
    (s, dir) => {
      val d38 = "decimal(38,0)"
      events(s, dir)
        .select(col("event_type"), (col("value").cast(dec) * 100).cast("long").as("__x"))
        // x² must be computed IN decimal: a long×long square silently
        // wraps from |cents| ≈ 3.04e9 (≈ $30M), poisoning every
        // higher sum while the HUGEINT oracle stays exact
        .withColumn("__x2", (col("__x").cast(d38) * col("__x")).cast(d38))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("__x").cast(d38)).as("__s1"),
          sum(col("__x2").cast(d38)).as("__s2"),
          sum((col("__x2").cast(d38) * col("__x")).cast(d38)).as("__s3"),
          sum((col("__x2").cast(d38) * col("__x2")).cast(d38)).as("__s4"))
        .withColumn("__m2",
          expr(s"cast(cast(n as $d38) * __s2 - __s1 * __s1 as $d38)"))
        .withColumn("__m3",
          expr(s"""cast(cast(n as $d38) * cast(n as $d38) * __s3
                    - 3 * cast(n as $d38) * __s2 * __s1
                    + 2 * __s1 * __s1 * __s1 as $d38)"""))
        .select(col("event_type"), col("n"),
          col("__s1").cast("string").as("s1"),
          col("__s2").cast("string").as("s2"),
          col("__s3").cast("string").as("s3"),
          col("__s4").cast("string").as("s4"),
          col("__m2").cast("string").as("m2num"),
          col("__m3").cast("string").as("m3num"),
          signum(col("__m3")).cast("long").as("skew_sign"))
    },
    Some("""WITH e AS (SELECT event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                FROM events),
            p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    sum(CAST(x AS HUGEINT)) AS s1,
                    sum(CAST(x AS HUGEINT) * x) AS s2,
                    sum(CAST(x AS HUGEINT) * x * x) AS s3,
                    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
                  FROM e GROUP BY 1)
            SELECT event_type, n,
              CAST(s1 AS VARCHAR) AS s1,
              CAST(s2 AS VARCHAR) AS s2,
              CAST(s3 AS VARCHAR) AS s3,
              CAST(s4 AS VARCHAR) AS s4,
              CAST(n * s2 - s1 * s1 AS VARCHAR) AS m2num,
              CAST(CAST(n AS HUGEINT) * n * s3 - 3 * n * s2 * s1
                   + 2 * s1 * s1 * s1 AS VARCHAR) AS m3num,
              CAST(CASE WHEN CAST(n AS HUGEINT) * n * s3 - 3 * n * s2 * s1
                             + 2 * s1 * s1 * s1 > 0 THEN 1
                        WHEN CAST(n AS HUGEINT) * n * s3 - 3 * n * s2 * s1
                             + 2 * s1 * s1 * s1 < 0 THEN -1
                        ELSE 0 END AS BIGINT) AS skew_sign
            FROM p"""))


  /** Mergeable-quantiles ROLLUP via KLL sketches (Karnin-Lang-Liberty
    * FOCS'16; plans/KllExprs.scala, the DataSketches library Spark
    * itself ships) — the QUANTILES member of the mergeable-sketch
    * family, completing the quartet next to HLL distinct (2e2),
    * Misra-Gries heavy hitters (2f2) and Count-Min frequency (2f5):
    * per-type sketches build map-side (~kB per group crosses the
    * exchange, never the value universe), union-merge into ONE global
    * sketch WITHOUT rescanning the raw values — the way percentiles
    * ship at 100 TB, where re-sorting per rollup level is not an
    * option — and answer the global median/p90 afterwards.
    *
    * KLL compaction is randomized (the library's design), so the
    * estimates are not run-deterministic; the oracle-checked contract
    * is therefore the q_hll_rollup pattern: exact integers (type
    * count, total count) hash-checked, plus rank-error-band booleans
    * the oracle expects TRUE — each estimate's EXACT rank interval
    * [count(v < est), count(v ≤ est)] must overlap the requested rank
    * ±50 milli, a band ~3× the k=200 sketch's 99%-confidence rank
    * error, checked tie-robustly by a broadcast recount (the
    * q_heavy_hitters_verified mechanism). Per-estimate accuracy and
    * mergeability are additionally asserted in SketchSpec.
    */
  private[graft] lazy val qKllRollup = GraftQuery(
    "q_kll_rollup",
    (s, dir) => {
      import org.apache.spark.sql.GraftBridge
      def kllAgg(c: Column): Column = GraftBridge.column(
        graft.plans.KllSketchAgg(GraftBridge.expression(c), 200).toAggregateExpression())
      def kllUnion(c: Column): Column = GraftBridge.column(
        graft.plans.KllUnionAgg(GraftBridge.expression(c), 200).toAggregateExpression())
      def kllQ(c: Column, r: Double): Column = GraftBridge.column(
        graft.plans.KllQuantile(GraftBridge.expression(c), r))
      val vals = events(s, dir).select(col("event_type"), col("value").cast("double").as("__v"))
      val per = vals.groupBy("event_type")
        .agg(kllAgg(col("__v")).as("__sk"), count(lit(1)).as("__n"))
      val g = per
        .agg(count(lit(1)).as("n_types"), sum(col("__n")).as("n_total"),
          kllUnion(col("__sk")).as("__gsk"))
        .select(col("n_types"), col("n_total"),
          kllQ(col("__gsk"), 0.5).as("__med"), kllQ(col("__gsk"), 0.9).as("__p90"))
      // tie-robust exact-rank recount: the estimate's rank interval
      // [count(< est), count(<= est)] must overlap rank ± 50 milli
      vals.crossJoin(broadcast(g))
        .groupBy(col("n_types"), col("n_total"))
        .agg(
          sum(when(col("__v") < col("__med"), 1L).otherwise(0L)).as("__ltm"),
          sum(when(col("__v") <= col("__med"), 1L).otherwise(0L)).as("__lem"),
          sum(when(col("__v") < col("__p90"), 1L).otherwise(0L)).as("__ltp"),
          sum(when(col("__v") <= col("__p90"), 1L).otherwise(0L)).as("__lep"))
        .select(col("n_types"), col("n_total"),
          (col("__ltm") * 1000 <= col("n_total") * 550 &&
            col("__lem") * 1000 >= col("n_total") * 450).as("med_within_band"),
          (col("__ltp") * 1000 <= col("n_total") * 950 &&
            col("__lep") * 1000 >= col("n_total") * 850).as("p90_within_band"))
    },
    Some("""SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
              CAST(count(*) AS BIGINT) AS n_total,
              TRUE AS med_within_band, TRUE AS p90_within_band
            FROM events"""))

}
