package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** The PRIVACY / RELEASE family (§2 rows 27-28x): PII scrub, k-anonymity, l-diversity, DP aggregates.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesPrivacy { this: Queries.type =>

  /** Numeric-identifier redaction — the regex-scrub skeleton of a PII
    * pipeline: every digit run in the raw payload is replaced by a
    * `<NUM>` sentinel, the hit count kept as the audit signal and the
    * scrubbed text fingerprinted. Pattern is a pure character class
    * (`[0-9]+`) so Java regex (Spark) and RE2 (DuckDB) agree; map-only,
    * zero shuffles, codegen'd end to end.
    */
  private[graft] lazy val qPiiScrub = GraftQuery(
    "q_pii_scrub",
    (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        expr("cast(regexp_count(props, '[0-9]+') as bigint)").as("n_hits"),
        md5(regexp_replace(col("props"), "[0-9]+", "<NUM>")).as("scrub_md5")),
    Some("""SELECT event_id,
              CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits,
              md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS scrub_md5
            FROM events"""))


  /** Differentially-private-SKELETON noisy histogram — the release
    * mechanism completing the privacy family (k-anon suppresses,
    * l-div gates, this PERTURBS): per-group counts plus two-sided
    * geometric noise, built ENTIRELY in integer space so the oracle
    * stays exact. Noise = Z(h1) − Z(h2) where Z(h) is the number of
    * leading zero bits of a 60-bit md5-derived uniform (Z ~
    * Geometric(1/2) — the difference is the discrete-Laplace/two-sided-
    * geometric shape of the geometric mechanism at alpha = 1/2, i.e.
    * eps = ln 2). Z computes as 60 − length(bin(h)) on both engines —
    * no float log anywhere. A production release swaps the md5-derived
    * uniforms for a real DP RNG; everything else (sensitivity-1
    * counting query, mechanism shape, post-processing clamp at 0) is
    * the production shape. Deterministic → reproducible AND
    * oracle-checked; the clamped release never reveals a negative.
    */
  private[graft] lazy val qDpHistogram = GraftQuery(
    "q_dp_histogram",
    (s, dir) => {
      def z(salt: String) = lit(60L) - length(bin(
        conv(substring(md5(concat(col("event_type"), lit(salt))), 1, 15), 16, 10).cast("long")))
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("true_count"))
        .select(col("event_type"), col("true_count"),
          (z("|a").cast("long") - z("|b").cast("long")).as("noise"),
          greatest(col("true_count") + z("|a").cast("long") - z("|b").cast("long"), lit(0L))
            .as("released_count"))
    },
    Some("""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
                  FROM events GROUP BY event_type),
            nz AS (SELECT event_type, true_count,
                     CAST(60 - length(bin(('0x' || substr(md5(event_type || '|a'), 1, 15))::BIGINT)) AS BIGINT)
                     - CAST(60 - length(bin(('0x' || substr(md5(event_type || '|b'), 1, 15))::BIGINT)) AS BIGINT) AS noise
                   FROM c)
            SELECT event_type, true_count, noise,
              greatest(true_count + noise, 0) AS released_count
            FROM nz"""))


  /** Differentially-private MEAN release (the Laplace-mechanism mean,
    * the aggregate-release companion of q_dp_histogram's counts): per
    * event type, each value's cents CLIP TWO-SIDED into [0, C],
    * C = 20,000 (bounding one record's influence — the sensitivity —
    * without assuming the data is nonnegative), the clipped sum is
    * exact,
    * and the released sum adds C × the same md5-seeded two-sided-
    * geometric noise q_dp_histogram uses (deterministic, so the
    * release replays cross-engine; swap the salt for a per-release
    * nonce in production). released_mean_cents divides by the PUBLIC
    * group count, floored at 0 — all integer, one partial-agg shuffle.
    */
  private[graft] lazy val qDpMean = GraftQuery(
    "q_dp_mean",
    (s, dir) => {
      def z(salt: String) = (lit(60L) - length(bin(
        conv(substring(md5(concat(col("event_type"), lit(salt))), 1, 15), 16, 10)
          .cast("long")))).cast("long")
      events(s, dir)
        .select(col("event_type"),
          greatest(least((col("value").cast(dec) * 100).cast("long"), lit(20000L)), lit(0L)).as("__c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__c")).as("clipped_sum"))
        .select(col("event_type"), col("n"), col("clipped_sum"),
          (z("|a") - z("|b")).as("noise"))
        .withColumn("released_sum",
          greatest(col("clipped_sum") + col("noise") * 20000L, lit(0L)))
        .withColumn("released_mean_cents", expr("released_sum div n"))
    },
    Some("""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(greatest(least(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 20000), 0)) AS BIGINT) AS clipped_sum
            FROM events GROUP BY event_type),
            nz AS (SELECT event_type, n, clipped_sum,
              CAST(60 - length(bin(('0x' || substr(md5(event_type || '|a'), 1, 15))::BIGINT)) AS BIGINT)
              - CAST(60 - length(bin(('0x' || substr(md5(event_type || '|b'), 1, 15))::BIGINT)) AS BIGINT) AS noise
            FROM c)
            SELECT event_type, n, clipped_sum, noise,
              greatest(clipped_sum + noise * 20000, 0) AS released_sum,
              greatest(clipped_sum + noise * 20000, 0) // n AS released_mean_cents
            FROM nz"""))


  /** Differentially-private MEDIAN release via the EXPONENTIAL
    * mechanism (McSherry & Talwar FOCS'07 — the selection member of
    * the DP family: the geometric mechanism perturbs counts, Laplace
    * perturbs sums, the exponential mechanism picks a candidate with
    * probability ∝ exp(ε·u/2)): per event type, candidates are the
    * $50 value buckets, utility −dist where dist = |2·cum_b − n| (how
    * far bucket b's upper cut sits from the median, sensitivity-2 in
    * half-row units), and the weight halves per utility unit —
    * w_b = 2^(55 − (dist_b − dist_min)), truncated to 0 beyond 55
    * doublings (mass < 2⁻⁵⁵ of the max — the documented finite-
    * precision clamp). Selection replays deterministically: the
    * 60-bit md5 uniform of the group key mod the total weight picks
    * the first bucket whose cumulative weight exceeds it (inverse-CDF
    * sampling in exact integers — swap the md5 uniform for a real DP
    * RNG in production, as q_dp_histogram documents). ZERO floats:
    * weights are shifted 1-bits, the CDF walk is a window cumsum.
    * Scale shape: one (type, bucket) partial-agg exchange, then every
    * window runs over the ≤dozen-bucket per-type frame.
    */
  private[graft] lazy val qDpQuantile = GraftQuery(
    "q_dp_quantile",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy("event_type")
      val cdf = Window.partitionBy("event_type").orderBy("bucket")
      events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("nb"))
        .withColumn("n", sum(col("nb")).over(byType))
        .withColumn("dist", abs(lit(2L) * sum(col("nb")).over(cdf) - col("n")))
        .withColumn("dmin", min(col("dist")).over(byType))
        .withColumn("wgt", expr(
          "CASE WHEN dist - dmin > 55 THEN 0L ELSE shiftleft(cast(1 as bigint), cast(55 - (dist - dmin) as int)) END"))
        .withColumn("cw", sum(col("wgt")).over(cdf))
        .withColumn("thr",
          conv(substring(md5(col("event_type")), 1, 15), 16, 10).cast("long") %
            sum(col("wgt")).over(byType))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("dist") === col("dmin"), col("bucket"))).as("true_med_bucket"),
          min(when(col("cw") > col("thr"), col("bucket"))).as("released_bucket"))
        .withColumn("released_cents", col("released_bucket") * 5000 + 2500)
    },
    Some("""WITH b AS (SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
                  CAST(count(*) AS BIGINT) AS nb
                FROM events GROUP BY 1, 2),
            c AS (SELECT event_type, bucket, nb,
                    sum(nb) OVER (PARTITION BY event_type) AS n,
                    sum(nb) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
                  FROM b),
            d AS (SELECT *, abs(2 * cum - n) AS dist,
                    min(abs(2 * cum - n)) OVER (PARTITION BY event_type) AS dmin
                  FROM c),
            w AS (SELECT *, CASE WHEN dist - dmin > 55 THEN 0::BIGINT
                    ELSE (1::BIGINT << CAST(55 - (dist - dmin) AS INT)) END AS wgt
                  FROM d),
            cw AS (SELECT *, sum(wgt) OVER (PARTITION BY event_type) AS wtot,
                     sum(wgt) OVER (PARTITION BY event_type ORDER BY bucket) AS cw
                   FROM w),
            t AS (SELECT *, ('0x' || substr(md5(event_type), 1, 15))::BIGINT % wtot AS thr FROM cw)
            SELECT event_type, CAST(max(n) AS BIGINT) AS n,
              CAST(min(CASE WHEN dist = dmin THEN bucket END) AS BIGINT) AS true_med_bucket,
              CAST(min(CASE WHEN cw > thr THEN bucket END) AS BIGINT) AS released_bucket,
              CAST(min(CASE WHEN cw > thr THEN bucket END) * 5000 + 2500 AS BIGINT) AS released_cents
            FROM t GROUP BY event_type"""))


  /** k-anonymity suppression (k=5): events are generalized to
    * (event_type, value band of width 100), groups seen by fewer than k
    * DISTINCT users are suppressed, and the surviving rows ship with
    * their group's user count. The group stats and the row-level
    * suppression join key on the SAME (event_type, band), so the
    * generalized events shuffle once and AQE reuses the exchange for
    * both consumers; the distinct-user count is the standard two-phase
    * expand, never a per-group set.
    */
  private[graft] lazy val qKanon = GraftQuery(
    "q_kanon",
    (s, dir) => {
      // ONE fenced (type, band) repartition serves everything: the
      // group-size aggregate rides it (partitioning by the full group
      // key already clusters the distinct-user dedup), and the
      // release join's row side IS it — no second fact scan, no join
      // exchange (the aggregate-then-join-back form re-scanned events
      // for the group branch; PlanAudit)
      val ev = Fence.keepAll(events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(floor(value / 100) as bigint)").as("band"))
        .filter(col("event_type").isNotNull && col("band").isNotNull)
        .repartition(col("event_type"), col("band")))
        .hint("shuffle_hash")
      val g = ev.groupBy(col("event_type"), col("band"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .filter(col("n_users") >= 5)
        .withColumnRenamed("event_type", "g_type").withColumnRenamed("band", "g_band")
      ev.join(g, ev("event_type") === col("g_type") && ev("band") === col("g_band"))
        .select(col("event_id"), col("event_type"), col("band"), col("n_users"))
    },
    Some("""WITH ev AS (SELECT event_id, user_id, event_type,
                          CAST(floor(value / 100) AS BIGINT) AS band FROM events
                        WHERE event_type IS NOT NULL
                          AND CAST(floor(value / 100) AS BIGINT) IS NOT NULL),
            g AS (SELECT event_type, band, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
                  FROM ev GROUP BY 1, 2 HAVING count(DISTINCT user_id) >= 5)
            SELECT ev.event_id, ev.event_type, ev.band, g.n_users
            FROM ev JOIN g USING (event_type, band)"""))


  /** L-DIVERSITY (k-anonymity's companion): a group is publishable
    * only if its SENSITIVE attribute (the json props `k` field, mod 16
    * as the sensitive class) takes ≥3 distinct values — a k-anonymous
    * group whose members all share one sensitive value still leaks it.
    * Same shape as q_kanon: group stats + row-level release join share
    * one (type, band) exchange; rows carry both the size and the
    * diversity so an auditor reads the release decision inline.
    */
  private[graft] lazy val qLdiv = GraftQuery(
    "q_ldiv",
    (s, dir) => {
      // same shared-repartition discipline as q_kanon: one (type,
      // band) exchange serves the diversity aggregate and the release
      // join's row side
      val ev = Fence.keepAll(events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(floor(value / 100) as bigint)").as("band"),
          (get_json_object(col("props"), "$.k").cast("long") % 16).as("sens"))
        .filter(col("event_type").isNotNull && col("band").isNotNull)
        .repartition(col("event_type"), col("band")))
        .hint("shuffle_hash")
      val g = ev.groupBy(col("event_type"), col("band"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("sens")).as("n_sens"))
        .filter(col("n_users") >= 5 && col("n_sens") >= 3)
        .withColumnRenamed("event_type", "g_type").withColumnRenamed("band", "g_band")
      ev.join(g, ev("event_type") === col("g_type") && ev("band") === col("g_band"))
        .select(col("event_id"), col("event_type"), col("band"), col("n_users"), col("n_sens"))
    },
    Some("""WITH ev AS (SELECT event_id, user_id, event_type,
                          CAST(floor(value / 100) AS BIGINT) AS band,
                          json_extract_string(props, '$.k')::BIGINT % 16 AS sens FROM events
                        WHERE event_type IS NOT NULL
                          AND CAST(floor(value / 100) AS BIGINT) IS NOT NULL),
            g AS (SELECT event_type, band,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                    CAST(count(DISTINCT sens) AS BIGINT) AS n_sens
                  FROM ev GROUP BY 1, 2
                  HAVING count(DISTINCT user_id) >= 5 AND count(DISTINCT sens) >= 3)
            SELECT ev.event_id, ev.event_type, ev.band, g.n_users, g.n_sens
            FROM ev JOIN g USING (event_type, band)"""))

}
