package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** The EVENT-ANALYTICS family: running folds, drift, funnels/retention/attribution, time-series diagnostics, sampling/split assignment.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesEvents { this: Queries.type =>

  /** SPLIT LEAKAGE — the eval-hygiene check: near-dup pairs whose two
    * docs fall in DIFFERENT train/val/test splits (same md5-bucket
    * rule as q_split_assign). Any off-diagonal row means eval examples
    * have training near-duplicates and the benchmark is soft. The pair
    * set is the shared materialized mining; split labels attach via
    * two equi-joins and the matrix groups on the unordered label pair.
    */
  private[graft] lazy val qSplitLeakage = GraftQuery(
    "q_split_leakage",
    (s, dir) => {
      val split = t(s, dir, "documents")
        .select(col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100).as("h"))
        .select(col("doc_id"),
          when(col("h") < 98, "train").when(col("h") < 99, "val").otherwise("test").as("split"))
      simhashPairs(s, dir)
        .join(split.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(split.as("sb"), col("id_b") === col("sb.doc_id"))
        .groupBy(least(col("sa.split"), col("sb.split")).as("split_lo"),
          greatest(col("sa.split"), col("sb.split")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some(s"""$simhashPairsSql,
             sp AS (SELECT doc_id,
                      CASE WHEN h < 98 THEN 'train' WHEN h < 99 THEN 'val' ELSE 'test' END AS split
                    FROM (SELECT doc_id,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS h
                          FROM documents))
             SELECT least(sa.split, sb.split) AS split_lo,
               greatest(sa.split, sb.split) AS split_hi,
               CAST(count(*) AS BIGINT) AS n_pairs
             FROM p JOIN sp sa ON p.id_a = sa.doc_id
                    JOIN sp sb ON p.id_b = sb.doc_id
             GROUP BY 1, 2"""))


  /** Label-consistency screen over the labeled embedding corpus — the
    * Confident-Learning-style mislabel signal (Northcutt et al. 2021):
    * EVERY vector queries the IVF index for its approximate top-5
    * neighbors (all-to-all, the q_knn_hubs chain), takes the neighbor
    * label majority (ties → smaller label), and per CLASS we report
    * how many members agree with their neighborhood — classes with low
    * consistency_milli are where label noise concentrates. The
    * all-to-all kNN rides the auto-sized (√n-cell) two-level IVF
    * equi-join — O(n^1.5) total, never all-pairs and never the
    * O(n²/k) of a fixed cell count (see q_knn_hubs); label attach +
    * majority are broadcast-dim joins and a keyed rank window over
    * the ≤ 10-label vote table. n counts vectors whose probed cells
    * contain at least one other vector (the others have no
    * neighborhood to disagree with).
    */
  private[graft] lazy val qLabelConsistency = GraftQuery(
    "q_label_consistency",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val kc = autoK(tableCount(s, dir, "embeddings"))
      val lbl = e.select(col("vec_id"), col("label").cast("long").as("label"))
      val votes = VectorFns.ivfTopK2(e, e, "vec_id", "embedding", 5,
          kCentroids = kc, nprobe = 8, coarseProbes = 4, assignProbes = 1)
        .join(broadcast(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("__nl"))),
          "neighbor_id")
        .groupBy(col("query_id"), col("__nl"))
        .agg(count(lit(1)).as("__votes"))
      val maj = votes
        .withColumn("__rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("__votes").desc, col("__nl"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("__nl").as("__pred"))
      maj.join(broadcast(lbl.select(col("vec_id").as("query_id"), col("label"))), "query_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__pred") === col("label"), 1L).otherwise(0L)).as("n_consistent"))
        .withColumn("consistency_milli", expr("(n_consistent * 1000) div n"))
    },
    Some(s"""$ivfAllNnSql,
             v AS (SELECT query_id, CAST(emb.label AS BIGINT) AS nl, CAST(count(*) AS BIGINT) AS votes
                   FROM nn JOIN embeddings emb ON nn.neighbor_id = emb.vec_id
                   GROUP BY 1, 2),
             maj AS (SELECT query_id, nl AS pred FROM
                       (SELECT query_id, nl, votes,
                          row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nl) AS rn
                        FROM v)
                     WHERE rn = 1)
             SELECT CAST(q.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN maj.pred = CAST(q.label AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
               CAST(sum(CASE WHEN maj.pred = CAST(q.label AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) * 1000
                 // CAST(count(*) AS BIGINT) AS consistency_milli
             FROM maj JOIN embeddings q ON maj.query_id = q.vec_id
             GROUP BY 1"""))


  /** Per-label corpus balance: member count and mean squared norm in
    * exact milli-units — the class-distribution health check before
    * training on labeled embeddings. One partial-agg shuffle on the
    * (10-value) label key.
    */
  private[graft] lazy val qClassBalance = GraftQuery(
    "q_class_balance",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Fence.guard(e.select(col("label").cast("long").as("label"),
          VectorFns.quantizeFast(col("embedding")).as("__qv")))
        .select(col("label"), VectorFns.qdotFast(col("__qv"), col("__qv")).as("__n2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum(col("__n2")).as("sum_norm2"))
        .select(col("label"), col("n"), col("sum_norm2"),
          expr("(sum_norm2 * 1000) div n").as("mean_norm2_milli"))
    },
    Some(s"""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
                    CAST(list_sum(list_transform(${quantSql("embedding")}, x -> x * x)) AS BIGINT) AS n2
                  FROM embeddings)
             SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS sum_norm2,
               CAST((sum(n2) * 1000) // count(*) AS BIGINT) AS mean_norm2_milli
             FROM e GROUP BY label"""))


  /** Deterministic train/val/test assignment: split = md5(doc_id) mod
    * 100 bucketed 98/1/1 — reproducible across engines and runs, no
    * RNG state, stable under reshuffling (the property a training
    * pipeline actually needs). Output: per-(source, split) doc counts.
    */
  private[graft] lazy val qSplitAssign = GraftQuery(
    "q_split_assign",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100).as("h"))
        .select(col("source"),
          when(col("h") < 98, "train").when(col("h") < 99, "val").otherwise("test").as("split"))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs")),
    Some("""SELECT source,
              CASE WHEN h < 98 THEN 'train' WHEN h < 99 THEN 'val' ELSE 'test' END AS split,
              CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT source,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS h
                  FROM documents)
            GROUP BY 1, 2"""))


  /** Deterministic WEIGHTED sampling per source — the integer skeleton
    * of priority sampling (Duffield et al. 2007; the u^(1/w) family of
    * Efraimidis-Spirakis weighted reservoirs): priority = u div w with
    * u the 60-bit md5 hash of the doc id and w the token count, take
    * the k smallest (priority, doc_id) per source. Heavier docs get
    * proportionally smaller priorities → proportionally higher
    * selection odds, with ZERO RNG state: the sample is reproducible,
    * engine-portable, and stable under data reordering — the
    * token-weighted counterpart of q_sample_per_key's uniform pick.
    *
    * Scale shape: the per-source top-k runs as the two-phase
    * md5-prefix-bucket walk (256 buckets): the row-level rank window
    * partitions on (source, bucket) — parallel, bounded sorts — and
    * only the ≤ 256·k survivors per source meet the source-level rank
    * window (PlanSpec-guarded). Selecting the global per-source top-k
    * from per-bucket top-ks is lossless, so the result is exactly the
    * naive single-window answer (asserted in PipelineOpsSpec).
    */
  private[graft] lazy val qWeightedSample = GraftQuery(
    "q_weighted_sample",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 5
      val base = Fence.guard(t(s, dir, "documents")
          .select(col("doc_id"), col("source"), TextFns.tokensFast(col("text")).as("__tk")))
        .select(col("doc_id"), col("source"),
          greatest(size(col("__tk")).cast("long"), lit(1L)).as("weight"))
        .withColumn("__u", TextFns.tokenHash(col("doc_id").cast("string")))
        .withColumn("priority", expr("__u div weight"))
        .withColumn("__bkt", substring(md5(col("doc_id").cast("string")), 1, 2))
      val wb = Window.partitionBy("source", "__bkt").orderBy(col("priority"), col("doc_id"))
      val ws = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
      base.withColumn("__rb", row_number().over(wb)).filter(col("__rb") <= k)
        .withColumn("rank", row_number().over(ws).cast("long")).filter(col("rank") <= k)
        .select(col("source"), col("doc_id"), col("weight"), col("priority"), col("rank"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id, source,
                    greatest(len($toksSql), 1) AS w FROM documents),
             pr AS (SELECT doc_id, source, w,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT // w AS priority
                    FROM t0),
             r AS (SELECT doc_id, source, w, priority,
                     row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rank
                   FROM pr)
             SELECT source, doc_id, CAST(w AS BIGINT) AS weight,
               CAST(priority AS BIGINT) AS priority, CAST(rank AS BIGINT) AS rank
             FROM r WHERE rank <= 5"""))


  /** Deterministic per-group sample: the 3 docs per source with the
    * smallest (md5(doc_id), doc_id) — a reproducible uniform group
    * sample (same shape as IVF centroid selection). No RNG, engine-
    * portable, stable under data reordering.
    */
  private[graft] lazy val qSamplePerKey = GraftQuery(
    "q_sample_per_key",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
    },
    Some("""SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
            FROM (SELECT source, doc_id,
                    row_number() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                  FROM documents)
            WHERE rn <= 3"""))


  /** Deterministic global shuffle order for training: see
    * Relational.shuffleOrder — pos = rank of (md5(doc_id), doc_id),
    * computed bucket-major so it is never a single-task global sort.
    * prefixChars=2 (256 buckets) suits test scale; the 100 TB knob is
    * the parameter.
    */
  private[graft] lazy val qShuffleOrder = GraftQuery(
    "q_shuffle_order",
    (s, dir) => Relational.shuffleOrder(t(s, dir, "documents"), "doc_id", prefixChars = 2),
    Some("""SELECT doc_id,
              CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
            FROM documents"""))


  /** Ordered conversion funnel over the event stream: first signup →
    * first later click → any later purchase, counted per stage — in
    * ONE pass. The stage-N-depends-on-stage-N-1 chain rides three
    * chained UNORDERED window aggregates over the same user_id
    * partitioning (min-signup-ts → min-later-click-ts → any-later-
    * purchase), so the whole funnel costs one typed-filtered scan +
    * one user_id exchange, no sort; the per-user reduce reuses that
    * partitioning (no second exchange) and the three stage counts fold
    * into a single 1-row rollup unpivoted by stack(). The previous
    * shape (per-stage aggregate joined forward) re-derived the signup
    * aggregate for every later stage — five fact scans where one
    * suffices at 100 TB.
    */
  private[graft] lazy val qFunnel = GraftQuery(
    "q_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val perUser = events(s, dir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") > col("s_ts"), col("ts"))).over(w))
        .withColumn("__p",
          when(col("event_type") === "purchase" && col("ts") > col("c_ts"), 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(max(col("s_ts")).as("s_ts"), max(col("c_ts")).as("c_ts"),
          max(col("__p")).as("p"))
      perUser.agg(
          count(col("s_ts")).as("n1"), count(col("c_ts")).as("n2"),
          // coalesce: sum over an EMPTY input is null where the
          // oracle's count(*) is 0 — stage 3 must degrade to 0 too
          coalesce(sum(col("p")), lit(0L)).as("n3"))
        .select(expr("""stack(3, '1_signup', n1,
                                 '2_click_after_signup', n2,
                                 '3_purchase_after_click', n3) AS (stage, n_users)"""))
    },
    Some("""WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
                       WHERE event_type = 'signup' GROUP BY 1),
             c AS (SELECT e.user_id, min(e.ts) AS c_ts
                   FROM events e JOIN s ON e.user_id = s.user_id
                   WHERE e.event_type = 'click' AND e.ts > s.s_ts GROUP BY 1),
             p AS (SELECT e.user_id
                   FROM events e JOIN c ON e.user_id = c.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
             SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s
             UNION ALL
             SELECT '2_click_after_signup', CAST(count(*) AS BIGINT) FROM c
             UNION ALL
             SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p"""))


  /** Day-over-day retention: per activity day, distinct active users
    * and how many were active again the next day. One distinct
    * (user, day) projection, one self equi-join on (user, day+1).
    */
  private[graft] lazy val qRetention = GraftQuery(
    "q_retention",
    (s, dir) => {
      // Single-pass shape: after the (user, day) dedup, a user's
      // next ACTIVE day via lead() makes "retained into day+1" a row-
      // local flag, so actives and retained fold into ONE day-level
      // aggregation — one scan and three bounded exchanges, where the
      // self-join form re-derived the distinct frame three times.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("day")
      events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .withColumn("__next", lead(col("day"), 1).over(w))
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          count(when(col("__next") === col("day") + 1, 1)).as("n_retained"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
             r AS (SELECT a.day, count(*) AS n_retained
                   FROM a JOIN a b ON a.user_id = b.user_id AND b.day = a.day + 1
                   GROUP BY 1),
             act AS (SELECT day, count(*) AS n FROM a GROUP BY 1)
             SELECT act.day AS day, CAST(act.n AS BIGINT) AS n_active,
               CAST(COALESCE(r.n_retained, 0) AS BIGINT) AS n_retained
             FROM act LEFT JOIN r ON act.day = r.day"""))


  /** Language-ID confusion matrix: the labeled `lang` column vs the
    * stopword-heuristic prediction — the evaluation view a curation
    * pipeline keeps alongside the classifier. Pure composition of the
    * staged q_lang_id shape + one aggregation.
    */
  /** Per-user inter-arrival gap statistics — the stream-health monitor
    * (a collapsing gap distribution means a hot key; a stretching one
    * means a stalled producer). One shuffle on user_id serves the lag
    * window; the mean is an exact floor division of the total span by
    * the gap count, so no float surface exists. Gaps are event-time
    * micros between consecutive events in (ts, event_id) order.
    */
  private[graft] lazy val qInterarrival = GraftQuery(
    "q_interarrival",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("gap")).as("min_gap_us"),
          max(col("gap")).as("max_gap_us"),
          expr("sum(gap) div count(gap)").as("mean_gap_us"))
    },
    Some("""WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                epoch_us(ts) - lag(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
              FROM events)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              min(gap) AS min_gap_us, max(gap) AS max_gap_us,
              CAST(sum(gap) // count(gap) AS BIGINT) AS mean_gap_us
            FROM x GROUP BY user_id"""))


  /** Last-touch attribution: each purchase attributed to the user's
    * latest click at-or-before it, within a 1-hour window — the
    * composition of the as-of join (union-merge: one shuffle, one
    * per-key sort, NO range join) with a per-day conversion rollup.
    * The attribution flag and rate are exact integers; the oracle
    * re-derives the same latest-click via a correlated max.
    */
  private[graft] lazy val qAttribution = GraftQuery(
    "q_attribution",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), unix_micros(col("ts")).as("c_us"),
          col("event_id").as("c_eid"))
      Joins.asofJoin(purchases, clicks, "user_id", "c_uid", "p_us", "c_us", "c_eid", Seq("c_us"))
        .select(expr("p_us div 86400000000").as("day"),
          (col("c_us").isNotNull && col("p_us") - col("c_us") <= 3600L * 1000000L)
            .cast("long").as("attributed"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("attributed")).as("n_attributed"),
          expr("sum(attributed) * 1000 div count(1)").as("attr_milli"))
    },
    Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id AS c_uid, epoch_us(ts) AS c_us
                  FROM events WHERE event_type = 'click'),
            j AS (SELECT p.*, (SELECT max(c_us) FROM c
                               WHERE c.c_uid = p.user_id AND c.c_us <= p.p_us) AS c_us
                  FROM p),
            f AS (SELECT p_us // 86400000000 AS day,
                    CASE WHEN c_us IS NOT NULL AND p_us - c_us <= 3600000000
                         THEN 1 ELSE 0 END AS attributed
                  FROM j)
            SELECT day, CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(sum(attributed) AS BIGINT) AS n_attributed,
              CAST(sum(attributed) * 1000 // count(*) AS BIGINT) AS attr_milli
            FROM f GROUP BY day"""))


  /** Trailing 7-day distinct actives per day — the sliding-window
    * DISTINCT that no engine supports directly (distinct is not
    * associative over sliding frames), re-expressed exactly: each
    * (user, active-day) covers days d..d+6 via a 7-row map-only
    * explode, and the per-day count-distinct follows. The fact table
    * reduces to distinct (user, day) FIRST (one shuffle), so the
    * explode fans out the reduced set, never raw events; reported
    * days are clipped to observed activity days by a semi join.
    */
  private[graft] lazy val qRollingActives = GraftQuery(
    "q_rolling_actives",
    (s, dir) => {
      val ud = events(s, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
        .distinct()
      val cover = ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("cday"))
      val days = ud.select(col("day")).distinct()
      cover.join(days, cover("cday") === days("day"), "left_semi")
        .groupBy(col("cday"))
        .agg(countDistinct(col("user_id")).as("n_active_7d"))
        .select(col("cday").as("day"), col("n_active_7d"))
    },
    Some("""WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
            cov AS (SELECT user_id, unnest(range(day, day + 7)) AS cday FROM ud)
            SELECT cday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
            FROM cov WHERE cday IN (SELECT day FROM ud)
            GROUP BY cday"""))


  /** Per-user event-type TRANSITION matrix (Markov counts): each
    * consecutive (prev → next) pair in a user's event-time order,
    * counted corpus-wide — the session-flow view behind funnel design
    * and anomaly detection (an error→purchase edge is a bug). One
    * keyed lag window, then the tiny (from, to) aggregation.
    */
  private[graft] lazy val qTransitions = GraftQuery(
    "q_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH x AS (
              SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
              FROM events)
            SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
            FROM x WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type"""))


  /** Weekly COHORT retention matrix: users grouped by first-seen week,
    * tracked across week offsets — the canonical growth-analytics
    * triangle, in ONE user-keyed exchange: collect_set(week) per user
    * (bounded by the observation span, map-side combined), cohort =
    * array_min, then an explode back out — each user contributes
    * exactly once per active week, so the matrix is a plain count.
    * (A distinct + min-join formulation costs three exchanges; this
    * shape was the round-6 plan iteration.)
    */
  private[graft] lazy val qCohorts = GraftQuery(
    "q_cohorts",
    (s, dir) => {
      events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
        .groupBy(col("user_id")).agg(collect_set(col("week")).as("weeks"))
        .select(array_min(col("weeks")).as("cohort_week"), explode(col("weeks")).as("week"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
            f AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
            SELECT cohort_week, week - cohort_week AS week_offset,
              CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_users
            FROM uw JOIN f ON uw.user_id = f.user_id
            GROUP BY cohort_week, week_offset"""))


  /** Per-user engagement lifespan: active days, calendar span, and
    * activity density in exact milli (active·1000 div span) — the
    * user-level engagement profile behind retention/cohorts. One
    * aggregation over the pre-reduced distinct (user, day) set.
    */
  private[graft] lazy val qLifespan = GraftQuery(
    "q_lifespan",
    (s, dir) =>
      events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days_active"),
          (max(col("day")) - min(col("day")) + 1).as("span_days"))
        .select(col("user_id"), col("n_days_active"), col("span_days"),
          expr("n_days_active * 1000 div span_days").as("density_milli")),
    Some("""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days_active,
              CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
              CAST(count(*) * 1000 // (max(day) - min(day) + 1) AS BIGINT) AS density_milli
            FROM ud GROUP BY user_id"""))


  /** Cyclic DAY-PART profile: activity folded onto the 24-hour clock
    * per event_type (hour = (µs div 3600·10⁶) mod 24, pure integer
    * arithmetic — no calendar functions, so UTC alignment is explicit)
    * — the seasonality view a tumbling window can't give because it
    * never folds. Counts + exact floor-mean cents per cell.
    */
  private[graft] lazy val qDaypart = GraftQuery(
    "q_daypart",
    (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"),
          expr("sum(cents) div count(1)").as("mean_cents")),
    Some("""SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) // count(*) AS BIGINT) AS mean_cents
            FROM events GROUP BY 1, 2"""))


  /** Conversion LAG: per converting user, the event-time gap from
    * first signup to the first purchase AT OR AFTER it — the funnel
    * latency input (its percentiles come from the exact-rank quantile
    * machinery). One user-keyed aggregation computes both firsts via
    * conditional min; users who never signed up or never purchased
    * after signup drop out in both engines identically.
    */
  private[graft] lazy val qConversionLag = GraftQuery(
    "q_conversion_lag",
    (s, dir) =>
      events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("us"))).as("signup_us"))
        .join(events(s, dir)
            .filter(col("event_type") === "purchase")
            .select(col("user_id").as("pu"), unix_micros(col("ts")).as("p_us")),
          col("user_id") === col("pu"))
        .filter(col("signup_us").isNotNull && col("p_us") >= col("signup_us"))
        .groupBy(col("user_id"))
        .agg(max(col("signup_us")).as("signup_us"), min(col("p_us")).as("first_purchase_us"))
        .select(col("user_id"), col("signup_us"), col("first_purchase_us"),
          (col("first_purchase_us") - col("signup_us")).as("lag_us")),
    Some("""WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
                       FROM events WHERE event_type = 'signup' GROUP BY user_id),
            p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase')
            SELECT s.user_id, CAST(s.signup_us AS BIGINT) AS signup_us,
              CAST(min(p.p_us) AS BIGINT) AS first_purchase_us,
              CAST(min(p.p_us) - s.signup_us AS BIGINT) AS lag_us
            FROM s JOIN p ON s.user_id = p.user_id AND p.p_us >= s.signup_us
            GROUP BY s.user_id, s.signup_us"""))


  /** Churn snapshot: per event_type, users whose LAST activity is
    * more than 7 days before the corpus's last day — the "who went
    * quiet" operational cut. Per-user last-seen aggregates once; the
    * corpus max day rides a 1-row broadcast (scalar-attach), and the
    * churn flag is pure integer day arithmetic.
    */
  private[graft] lazy val qChurnUsers = GraftQuery(
    "q_churn_users",
    (s, dir) => {
      val lastSeen = events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(expr("unix_micros(ts) div 86400000000")).as("last_day"))
      val mx = lastSeen.agg(max(col("last_day")).as("corpus_last"))
      lastSeen.crossJoin(broadcast(mx))
        .select(when(col("last_day") < col("corpus_last") - 7, lit(1L)).otherwise(lit(0L))
          .as("churned"))
        .groupBy(col("churned"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH ls AS (SELECT user_id, max(epoch_us(ts) // 86400000000) AS last_day
                        FROM events GROUP BY user_id),
            m AS (SELECT max(last_day) AS corpus_last FROM ls)
            SELECT CAST(CASE WHEN last_day < corpus_last - 7 THEN 1 ELSE 0 END AS BIGINT) AS churned,
              CAST(count(*) AS BIGINT) AS n_users
            FROM ls, m GROUP BY 1"""))


  /** Daily active users with a trailing 7-day floor-average — the
    * dashboard smoothing every DAU chart applies. The fact reduces to
    * distinct (user, day) then to per-day counts; the ROWS frame runs
    * on the ~30-row daily series. The average is exact floor division
    * over the actual frame size (partial windows at the series head
    * use their real day count, not 7).
    */
  private[graft] lazy val qDauMa = GraftQuery(
    "q_dau_ma",
    (s, dir) =>
      events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("dau"))
        .withColumn("ma7_dau", expr(
          "sum(dau) over (order by day rows between 6 preceding and current row)" +
            " div count(dau) over (order by day rows between 6 preceding and current row)"))
        .select(col("day"), col("dau"), col("ma7_dau")),
    Some("""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
            SELECT day, dau,
              CAST(sum(dau) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   // count(dau) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ma7_dau
            FROM d"""))


  /** Time-weighted average value (TWAP) per user: Σ value·Δt / ΣΔt
    * with Δt the event-time gap to the NEXT event — each observation
    * weighted by how long it was "in effect", the standard correction
    * when sampling is irregular (a plain mean overweights bursts).
    * Exact integer arithmetic throughout: cents·micros products are
    * bounded (≤5·10¹³ per term) and the final division floors. One
    * keyed lead window; the last event per key carries no interval and
    * drops out, exactly as in both engines' SQL.
    */
  private[graft] lazy val qTwap = GraftQuery(
    "q_twap",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .withColumn("gap", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("gap")).as("span_us"),
          expr("sum(cents * gap) div sum(gap)").as("twap_cents"))
    },
    Some("""WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  - epoch_us(ts) AS gap
              FROM events)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
              CAST(sum(gap) AS BIGINT) AS span_us,
              CAST(sum(cents * gap) // sum(gap) AS BIGINT) AS twap_cents
            FROM x WHERE gap IS NOT NULL
            GROUP BY user_id"""))


  /** Per-candle RETURN in exact milli-units ((close−open)·1000 div
    * open) plus the up/flat/down direction — the momentum layer on the
    * stocks pipeline between raw candles (q_candles) and Strat
    * classification (q_strat_classify). Same single tumbling-window
    * aggregation; the return is a floor division of cents.
    */
  private[graft] lazy val qCandleReturns = GraftQuery(
    "q_candle_returns",
    (s, dir) =>
      Windows.tumbling(events(s, dir), "ts", Seq("user_id"), "1 hour")(
        min_by(col("value"), col("event_id")).as("__open"),
        max_by(col("value"), col("event_id")).as("__close"))
        .select(col("user_id"), unix_micros(col("window_start")).as("window_start_us"),
          expr("cast(cast(__open as decimal(18,2)) * 100 as bigint)").as("open_cents"),
          expr("cast(cast(__close as decimal(18,2)) * 100 as bigint)").as("close_cents"))
        .select(col("user_id"), col("window_start_us"), col("open_cents"), col("close_cents"),
          // negative returns are safe: Spark `div` and DuckDB's INTEGER
          // `//` both truncate toward zero (DuckDB floors only for
          // DOUBLE operands — the kmeans-step trap involved a double
          // intermediate; these are BIGINT end to end). nullif guards
          // the zero-open candle (sf0.1 has 0-cent values): NULL return
          // in both engines instead of an ANSI divide-by-zero
          expr("(close_cents - open_cents) * 1000 div nullif(open_cents, 0)").as("return_milli"),
          when(col("close_cents") > col("open_cents"), lit(1L))
            .when(col("close_cents") < col("open_cents"), lit(-1L))
            .otherwise(lit(0L)).as("direction")),
    Some("""WITH c AS (
              SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
                CAST(CAST(arg_min(value, event_id) AS DECIMAL(18,2)) * 100 AS BIGINT) AS open_cents,
                CAST(CAST(arg_max(value, event_id) AS DECIMAL(18,2)) * 100 AS BIGINT) AS close_cents
              FROM events GROUP BY 1, 2)
            SELECT user_id, window_start_us, open_cents, close_cents,
              CAST((close_cents - open_cents) * 1000 // nullif(open_cents, 0) AS BIGINT) AS return_milli,
              CAST(CASE WHEN close_cents > open_cents THEN 1
                        WHEN close_cents < open_cents THEN -1 ELSE 0 END AS BIGINT) AS direction
            FROM c"""))


  /** Trailing-window SPIKE detection per (event_type, day): a day is a
    * spike when its count exceeds 2× the trailing average over the 7
    * most recent OBSERVED days — a ROWS frame on the per-day series,
    * so zero-event days are absent and after a gap the frame spans
    * more than 7 calendar days (gap-fill the daily grid first, as
    * q_gap_fill does, for strict calendar-window semantics). Decided
    * by exact cross-multiplication (cnt·7 > 2·Σtrail); the fact table
    * reduces to (type, day) counts first, everything after runs on
    * days×types.
    */
  private[graft] lazy val qSpikes = GraftQuery(
    "q_spikes",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .withColumn("trail_sum", sum(col("cnt")).over(w))
        .withColumn("trail_days", count(col("cnt")).over(w))
        .select(col("event_type"), col("day"), col("cnt"),
          coalesce(col("trail_sum"), lit(0L)).as("trail_sum"),
          col("trail_days"),
          (col("trail_days") === 7 &&
            col("cnt") * 7 > col("trail_sum") * 2).cast("long").as("is_spike"))
    },
    Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
            x AS (SELECT *,
                    sum(cnt) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_sum,
                    count(cnt) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_days
                  FROM d)
            SELECT event_type, day, cnt,
              CAST(coalesce(trail_sum, 0) AS BIGINT) AS trail_sum,
              CAST(trail_days AS BIGINT) AS trail_days,
              CAST(CASE WHEN trail_days = 7 AND cnt * 7 > trail_sum * 2
                        THEN 1 ELSE 0 END AS BIGINT) AS is_spike
            FROM x"""))


  /** Per-key running stats over the event stream (reference
    * StreamExt::fold, src/lib.rs:11-13, + lag_window, src/window.rs:9-41,
    * composed): event index, cumulative sum (exact decimal),
    * and a 5-event count-window moving average in exact milli-units.
    * All three frames share ONE window spec (partition user_id, order
    * ts/event_id): one shuffle, one per-key sort, every frame computed
    * on the same sorted run. The average is integer `div` on exact
    * cents so no cross-engine float rounding exists.
    */
  private[graft] lazy val qRunningStats = GraftQuery(
    "q_running_stats",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cents = (col("value").cast(dec) * 100).cast("long")
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("pos"),
          sum(col("value").cast(dec))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("run_sum"),
          sum(cents).over(w.rowsBetween(-4, 0)).as("__c5"),
          count(lit(1)).over(w.rowsBetween(-4, 0)).as("__n5"))
        .withColumn("mov_avg_milli", expr("(__c5 * 10) div __n5"))
        .drop("__c5", "__n5")
    },
    Some("""SELECT event_id, user_id,
              CAST(row_number() OVER w AS BIGINT) AS pos,
              CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 10
                   // count(*) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_avg_milli
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))


  /** Exponential smoothing (EWMA, α = 0.3) of each user's value
    * series in EXACT integer arithmetic: e₀ = v₀, eᵢ = (300·vᵢ +
    * 700·eᵢ₋₁) div 1000 over cents — the float-free skeleton of the
    * smoothed-metric layer (same integer-milli discipline as
    * q_running_stats), so batch, the streaming twin
    * (StreamingOps.ewma) and the DuckDB oracle agree bit-for-bit.
    * Values must be non-negative for div/floor-division agreement
    * (they are: event values are amounts).
    *
    * Scale shape: a linear recurrence is inherently sequential PER KEY
    * (each step needs its predecessor), so the engine folds a per-key
    * ordered array — one groupBy exchange, fold work linear in the
    * key's history, parallel across keys (the only axis that grows at
    * 100 TB; per-entity history is bounded). No window, no self-join;
    * the (ts, event_id) sort happens inside sort_array on
    * key-local data, never as a global sort.
    */
  private[graft] lazy val qEwma = GraftQuery(
    "q_ewma",
    (s, dir) =>
      events(s, dir)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            (col("value").cast(dec) * 100).cast("long").as("cents")).as("__e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("__e"))).as("__l"), count(lit(1)).as("n"))
        .withColumn("__c", expr("transform(__l, x -> x.cents)"))
        .select(col("user_id"), col("n"),
          expr("""aggregate(slice(__c, 2, size(__c) - 1), element_at(__c, 1),
                            (acc, x) -> (300 * x + 700 * acc) div 1000)""").as("ewma_cents")),
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
              list_reduce(list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ORDER BY ts, event_id),
                          (acc, x) -> (300 * x + 700 * acc) // 1000) AS ewma_cents
            FROM events GROUP BY user_id"""))


  /** CUSUM drift detection (Page 1954) per user, in closed RELATIONAL
    * form: the recurrence sᵢ = max(0, sᵢ₋₁ + (vᵢ − μ)) has the closed
    * form sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) where Pᵢ is the prefix sum of
    * deviations — so the whole change-point statistic is two running
    * windows over ONE (user, time) sort, no sequential fold at all
    * (unlike q_ewma, whose recurrence has no such closed form). μ is
    * the user's integer mean cents; emits the peak CUSUM excursion
    * (the drift alarm statistic) and the number of resets (s returning
    * to 0 = distinct drift episodes). All integer arithmetic on exact
    * cents — portable bit-for-bit.
    *
    * Scale shape: one exchange on user_id; the partition-total mean
    * and both running frames share that partitioning (the ordered
    * frames share one sort); final rollup is a partial agg on the same
    * key. Nothing global, nothing quadratic.
    */
  private[graft] lazy val qCusum = GraftQuery(
    "q_cusum",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(dec) * 100).cast("long").as("__cents"))
        .withColumn("__mu",
          expr("sum(__cents) OVER (PARTITION BY user_id) div count(1) OVER (PARTITION BY user_id)"))
        .withColumn("__p", sum(col("__cents") - col("__mu")).over(w))
        .withColumn("__s", col("__p") - least(lit(0L), min(col("__p")).over(w)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), max(col("__mu")).as("mu_cents"),
          max(col("__s")).as("peak_cusum"),
          sum(when(col("__s") === 0L, 1L).otherwise(0L)).as("n_resets"))
    },
    Some("""WITH x AS (
              SELECT user_id, ts, event_id,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (PARTITION BY user_id)
                  // count(*) OVER (PARTITION BY user_id) AS mu
              FROM events),
             p AS (
              SELECT user_id, mu, ts, event_id,
                sum(cents - mu) OVER w AS pp
              FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
             q AS (
              SELECT user_id, mu, pp,
                min(pp) OVER w AS mn
              FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
             SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(max(mu) AS BIGINT) AS mu_cents,
               CAST(max(pp - least(0, mn)) AS BIGINT) AS peak_cusum,
               CAST(sum(CASE WHEN pp - least(0, mn) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
             FROM q GROUP BY user_id"""))


  /** Per-key least-squares trend (the regression member of the
    * running-stats family — q_running_stats gives moments, q_ewma a
    * smoothed level, q_cusum a drift alarm; this gives the SLOPE): an
    * OLS fit of exact cents against the per-user event index, emitted
    * as the exact integer numerator/denominator pair
    * num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² (slope = num/den; the
    * division is left to the consumer so the contract stays bit-exact)
    * plus the sign classification. x is the 0-based (ts, event_id)
    * rank, so the fit is invariant to the tape's absolute epoch.
    *
    * Scale shape: ONE exchange on user_id — the row_number window and
    * the groupBy reuse the same hash partitioning; all sums are
    * map-side partial-agg longs. 64-bit headroom: n·Σx² ~ n⁴·… holds
    * past ~50k events/key at cent scale; beyond that lift the four
    * sums to DECIMAL(38,0) (same plan shape, still exact).
    */
  private[graft] lazy val qTrendSlope = GraftQuery(
    "q_trend_slope",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(dec) * 100).cast("long").as("__y"))
        .withColumn("__x", (row_number().over(w) - 1).cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"),
          sum(col("__y")).as("__sy"),
          sum(col("__x") * col("__y")).as("__sxy"),
          sum(col("__x") * col("__x")).as("__sxx"))
        .select(col("user_id"), col("n"),
          (col("n") * col("__sxy") - col("__sx") * col("__sy")).as("num"),
          (col("n") * col("__sxx") - col("__sx") * col("__sx")).as("den"))
        .withColumn("trend",
          when(col("num") > 0, lit("up"))
            .when(col("num") < 0, lit("down")).otherwise(lit("flat")))
    },
    Some("""WITH e AS (SELECT user_id,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
              CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS x
            FROM events),
            a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
            FROM e GROUP BY 1)
            SELECT user_id, n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
              CASE WHEN n*sxy - sx*sy > 0 THEN 'up'
                   WHEN n*sxy - sx*sy < 0 THEN 'down' ELSE 'flat' END AS trend
            FROM a"""))


  /** Per-key lag-1 autocorrelation — the serial-dependence member of
    * the running-stats family (q_trend_slope gives the drift, this the
    * STICKINESS: do deviations persist or mean-revert?). Deviations
    * are taken from the exact floor-mean (μ = Σc div n, the q_cusum
    * convention), so num = Σ dᵢ·dᵢ₊₁ and den = Σ dᵢ² are exact
    * integers (ACF = num/den left to the consumer) plus the sign
    * class. ONE user_id exchange: the partition-total mean frame, the
    * lead frame, and the final sums all share it (plan-pinned).
    */
  private[graft] lazy val qAutocorr = GraftQuery(
    "q_autocorr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(dec) * 100).cast("long").as("__c"))
        .withColumn("__mu",
          expr("sum(__c) OVER (PARTITION BY user_id) div count(1) OVER (PARTITION BY user_id)"))
        .withColumn("__d", col("__c") - col("__mu"))
        .withColumn("__dn", lead(col("__d"), 1).over(wo))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max(col("__mu")).as("mu_cents"),
          sum(col("__d") * col("__d")).as("den"),
          sum(when(col("__dn").isNotNull, col("__d") * col("__dn")).otherwise(0L)).as("num"))
        .withColumn("ac_sign",
          when(col("num") > 0, lit("pos"))
            .when(col("num") < 0, lit("neg")).otherwise(lit("zero")))
    },
    Some("""WITH x AS (SELECT user_id, ts, event_id,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
            m AS (SELECT user_id, ts, event_id, c,
              sum(c) OVER (PARTITION BY user_id) // count(*) OVER (PARTITION BY user_id) AS mu FROM x),
            d AS (SELECT user_id, mu, c - mu AS dd,
              lead(c - mu) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dn FROM m)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
              CAST(max(mu) AS BIGINT) AS mu_cents,
              CAST(sum(dd*dd) AS BIGINT) AS den,
              CAST(sum(CASE WHEN dn IS NOT NULL THEN dd*dn ELSE 0 END) AS BIGINT) AS num,
              CASE WHEN sum(CASE WHEN dn IS NOT NULL THEN dd*dn ELSE 0 END) > 0 THEN 'pos'
                   WHEN sum(CASE WHEN dn IS NOT NULL THEN dd*dn ELSE 0 END) < 0 THEN 'neg'
                   ELSE 'zero' END AS ac_sign
            FROM d GROUP BY user_id"""))


  /** Deterministic stratified sampling by rate: keep a FRACTION of each
    * source (src-dependent permille rate, md5-bucket threshold) — the
    * rate-based complement of q_sample_per_key's fixed-count sampling
    * and q_token_budget's budget cut. Map-only: the rate table rides in
    * the plan as a CASE literal; zero RNG state, rerun-stable.
    */
  private[graft] lazy val qStratifiedSample = GraftQuery(
    "q_stratified_sample",
    (s, dir) => {
      // permille keep-rates by source bucket (srcN → (N % 4) flavors)
      val rate = expr("CASE CAST(substr(source, 4, 4) AS INT) % 4 " +
        "WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 ELSE 100 END")
      Relational.stratifiedSample(t(s, dir, "documents"), "doc_id", rate)
        .select(col("doc_id"), col("source"))
    },
    Some("""SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
                  < CASE CAST(substr(source, 4, 4) AS INT) % 4
                      WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 ELSE 100 END"""))


  /** Cross-modal pair curation: join each document to its embedding
    * row and keep pairs passing BOTH a text gate (token count) and a
    * vector gate (integer squared norm inside a band — the quantized
    * exact stand-in for an alignment-score threshold). The id equi-join
    * hash-partitions both sides; scoring is the codegen'd QDot kernel;
    * output is a per-source funnel (pairs seen vs kept).
    */
  private[graft] lazy val qPairCuration = GraftQuery(
    "q_pair_curation",
    (s, dir) => {
      val d = Fence.guard(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              TextFns.tokensFast(col("text")).as("__toks")))
        .select(col("doc_id"), col("source"), size(col("__toks")).cast("long").as("__nt"))
      val q = VectorFns.quantizeFast(col("embedding"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), VectorFns.qdotFast(q, q).as("__n2"))
      d.join(e, col("doc_id") === col("vec_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("__nt") >= 20 && col("__n2") <= 1000000L, 1)).as("n_kept"))
    },
    Some(s"""WITH d AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             e AS (SELECT vec_id,
                     CAST(list_sum(list_transform(${quantSql("embedding")}, v -> v * v)) AS BIGINT) AS n2
                   FROM embeddings)
             SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN nt >= 20 AND n2 <= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             FROM d JOIN e ON doc_id = vec_id GROUP BY source"""))


  /** New-vs-returning daily actives: per activity day, how many users
    * are seen for the FIRST time vs returning — the companion view to
    * q_retention. One distinct (user, day) projection, per-user min
    * day via the same shuffle, then a day rollup.
    */
  private[graft] lazy val qFirstSeen = GraftQuery(
    "q_first_seen",
    (s, dir) => {
      val act = events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      import org.apache.spark.sql.expressions.Window
      val first = min(col("day")).over(Window.partitionBy("user_id"))
      act.withColumn("__first", first)
        .groupBy("day")
        .agg(count(when(col("day") === col("__first"), 1)).as("n_new"),
          count(when(col("day") > col("__first"), 1)).as("n_returning"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
             f AS (SELECT user_id, min(day) AS fd FROM a GROUP BY 1)
             SELECT day,
               CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN day > fd THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
             FROM a JOIN f USING (user_id) GROUP BY day"""))


  // =======================================================================

  /** Deterministic negative-pair mining for contrastive training: each
    * doc's "hard random" negative is the NEXT doc in md5 ring order
    * within its (source, md5-prefix bucket) — reproducible across reruns
    * with zero RNG state, and the ring wrap keeps every doc paired. The
    * window partitions on (source, 1-hex-char bucket), so no per-source
    * single-task sort exists: the bucket fan-out is the same scale knob
    * as Relational.shuffleOrder's prefixChars (100 TB → 2-3 chars).
    * Self-pairs from singleton buckets are dropped.
    */
  private[graft] lazy val qNegPairs = GraftQuery(
    "q_neg_pairs",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("mk"))
        .withColumn("bk", substring(col("mk"), 1, 1))
      val w = Window.partitionBy(col("source"), col("bk")).orderBy(col("mk"), col("doc_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn("neg_id",
          coalesce(lead(col("doc_id"), 1).over(w), first(col("doc_id")).over(wf)))
        .filter(col("neg_id") =!= col("doc_id"))
        .select(col("doc_id"), col("source"), col("neg_id"))
    },
    Some("""WITH o AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS mk,
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bk
                       FROM documents)
            SELECT doc_id, source,
              coalesce(
                lead(doc_id) OVER (PARTITION BY source, bk ORDER BY mk, doc_id),
                first_value(doc_id) OVER (PARTITION BY source, bk ORDER BY mk, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS neg_id
            FROM o
            QUALIFY neg_id != doc_id"""))


  /** Distribution-drift monitor — exact total-variation distance
    * between two cohorts of the same metric (the PSI/KS-family check a
    * pipeline runs before trusting that yesterday's data looks like
    * today's; TV is used over PSI because it is EXACT in integers —
    * no logs, no float drift). Cohorts are the deterministic
    * event_id-parity split; values bucket at $50 width; per event
    * type, TV = ½ Σ_b |pA(b) − pB(b)| emitted in milli as
    * Σ|nA_b·NB − nB_b·NA| · 1000 // (2·NA·NB) — one exchange on
    * (type, bucket) partials, then a type-level rollup of ≤ a dozen
    * bucket rows.
    */
  private[graft] lazy val qDrift = GraftQuery(
    "q_drift",
    (s, dir) =>
      events(s, dir)
        .select(col("event_type"), (col("event_id") % 2 === 0).as("__a"),
          expr("cast(floor(value / 50) as bigint)").as("__b"))
        .groupBy(col("event_type"), col("__b"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__na"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("__nb"))
        .withColumn("__ta", sum(col("__na")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        .withColumn("__tb", sum(col("__nb")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        .groupBy(col("event_type"))
        .agg(max(col("__ta")).as("na"), max(col("__tb")).as("nb"),
          sum(abs(col("__na") * col("__tb") - col("__nb") * col("__ta"))).as("__l1"))
        .select(col("event_type"), col("na"), col("nb"),
          expr("__l1 * 1000 div (2 * na * nb)").as("tv_milli")),
    Some("""WITH b AS (SELECT event_type, event_id % 2 = 0 AS a,
              CAST(floor(value / 50) AS BIGINT) AS bk FROM events),
            g AS (SELECT event_type, bk,
              CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na_b,
              CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb_b
            FROM b GROUP BY 1, 2),
            t AS (SELECT event_type, bk, na_b, nb_b,
              sum(na_b) OVER (PARTITION BY event_type) AS ta,
              sum(nb_b) OVER (PARTITION BY event_type) AS tb FROM g)
            SELECT event_type, CAST(max(ta) AS BIGINT) AS na, CAST(max(tb) AS BIGINT) AS nb,
              CAST(sum(abs(na_b * tb - nb_b * ta)) AS BIGINT) * 1000
                // (2 * CAST(max(ta) AS BIGINT) * CAST(max(tb) AS BIGINT)) AS tv_milli
            FROM t GROUP BY event_type"""))


  /** Deterministic A/B lift report: users split into two arms by
    * user_id parity (the deterministic stand-in for experiment
    * assignment), conversion = any 'purchase' event. Emits per-arm
    * exposure/conversion counts plus the exact integer effect sizes —
    * conversion per-mille per arm, their difference, and the
    * odds-ratio cross products (numerator c1·(u0−c0) vs denominator
    * c0·(u1−c1)), whose comparison gives the direction of association
    * without a single float. Shape: one shuffle on user_id for the
    * per-user conversion flag, then a 2-row partial-agg rollup and a
    * driver-free 1-row pivot — invariant to fact scale.
    */
  private[graft] lazy val qAbLift = GraftQuery(
    "q_ab_lift",
    (s, dir) => {
      val perUser = events(s, dir)
        // pmod, and the oracle mirrors it with ((u%2)+2)%2: DuckDB's %
        // is remainder-signed (-1 for negative ids), which would mint a
        // third arm the Spark side can never produce
        .groupBy(pmod(col("user_id"), lit(2)).cast("long").as("__arm"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("__conv"))
      perUser.groupBy("__arm")
        .agg(count(lit(1)).as("__u"), sum(col("__conv")).as("__c"))
        .agg(
          max(when(col("__arm") === 0, col("__u"))).as("u0"),
          max(when(col("__arm") === 0, col("__c"))).as("c0"),
          max(when(col("__arm") === 1, col("__u"))).as("u1"),
          max(when(col("__arm") === 1, col("__c"))).as("c1"))
        .withColumn("conv0_permille", expr("c0 * 1000 div u0"))
        .withColumn("conv1_permille", expr("c1 * 1000 div u1"))
        .withColumn("lift_permille", expr("c1 * 1000 div u1 - c0 * 1000 div u0"))
        .withColumn("odds_num", expr("c1 * (u0 - c0)"))
        .withColumn("odds_den", expr("c0 * (u1 - c1)"))
    },
    Some("""WITH pu AS (SELECT ((user_id % 2) + 2) % 2 AS arm, user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
                FROM events GROUP BY 1, 2),
            a AS (SELECT arm, CAST(count(*) AS BIGINT) AS u, CAST(sum(conv) AS BIGINT) AS c
                  FROM pu GROUP BY 1),
            p AS (SELECT max(CASE WHEN arm = 0 THEN u END) AS u0,
                    max(CASE WHEN arm = 0 THEN c END) AS c0,
                    max(CASE WHEN arm = 1 THEN u END) AS u1,
                    max(CASE WHEN arm = 1 THEN c END) AS c1
                  FROM a)
            SELECT u0, c0, u1, c1,
              CAST(c0 * 1000 // u0 AS BIGINT) AS conv0_permille,
              CAST(c1 * 1000 // u1 AS BIGINT) AS conv1_permille,
              CAST(c1 * 1000 // u1 - c0 * 1000 // u0 AS BIGINT) AS lift_permille,
              CAST(c1 * (u0 - c0) AS BIGINT) AS odds_num,
              CAST(c0 * (u1 - c1) AS BIGINT) AS odds_den
            FROM p"""))

}
