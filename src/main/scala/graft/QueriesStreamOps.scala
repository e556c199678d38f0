package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns, Width}

/** The reference STREAM SURFACE + window/join family (SURVEY §2 rows 1-18, 2k, 2k2): StreamExt ops, tumbling/hopping/lag/session windows, stream joins (interval, enrichment, salted, range, overlap, as-of), stocks/tpipe examples, CDC apply, sessionize.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesStreamOps { this: Queries.type =>

  // =======================================================================
  // Core rstreams surface (SURVEY §2 rows 1-18)
  // =======================================================================

  private[graft] lazy val qMapFilter = GraftQuery(
    "q_map_filter",
    (s, dir) =>
      events(s, dir)
        .filter(col("event_type") === "purchase" && col("value") > 100)
        .select(col("event_id"), col("user_id"), (col("value") * 2).as("value2")),
    Some("""SELECT event_id, user_id, value * 2 AS value2
            FROM events WHERE event_type = 'purchase' AND value > 100"""))


  /** filter_map (reference StreamExt::filter_map): filter and transform
    * in one pass — one scan, the map never runs on dropped rows.
    */
  private[graft] lazy val qFilterMap = GraftQuery(
    "q_filter_map",
    (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull && col("k") % 2 === 0)
        .select(col("event_id"), expr("k div 2").as("half_k")),
    Some(s"""SELECT event_id, json_extract_string(props, '$$.k')::BIGINT // 2 AS half_k
             FROM events
             WHERE json_extract_string(props, '$$.k') IS NOT NULL
               AND json_extract_string(props, '$$.k')::BIGINT % 2 = 0"""))


  /** cycle(k) (reference StreamExt::cycle): batch re-expression — each
    * record replayed k times with a cycle index (a lateral range join;
    * no driver loop, no shuffle).
    *
    * Deliberately batch-only: the reference's cycle is an INFINITE
    * replay of a finite upstream, which has no Structured Streaming
    * twin — an unbounded source cannot be re-consumed from the start,
    * and an infinite per-record emit never lets a micro-batch finish.
    * Finite k-fold replay is the semantics a data pipeline actually
    * uses (epoch repetition), and it composes with every streaming
    * operator here by applying BEFORE the stream source.
    */
  private[graft] lazy val qCycle = GraftQuery(
    "q_cycle",
    (s, dir) =>
      events(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"))
        .crossJoin(s.range(3).select(col("id").as("cycle_no")))
        .select(col("event_id"), col("user_id"), col("cycle_no")),
    Some("""SELECT event_id, user_id, k AS cycle_no
            FROM events CROSS JOIN range(3) t(k)
            WHERE event_type = 'signup'"""))


  private[graft] lazy val qFoldAgg = GraftQuery(
    "q_fold_agg",
    (s, dir) =>
      Keyed.fold(events(s, dir), Seq("user_id"))(
        count(lit(1)).as("n"),
        sumDec(col("value")).as("sum_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value")),
    Some(s"""SELECT user_id, $nSql AS n, $sumValSql AS sum_value,
             max(value) AS max_value, min(value) AS min_value
             FROM events GROUP BY user_id"""))


  private[graft] lazy val qTableLatest = GraftQuery(
    "q_table_latest",
    (s, dir) =>
      Keyed.latestByKey(events(s, dir), Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          unix_micros(col("ts")).as("last_ts_us")),
    Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
            value AS last_value, epoch_us(ts) AS last_ts_us
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""))


  /** SNAPSHOT DIFF (Relational.snapshotDiff): what changed between two
    * versions of a keyed state table — here, latest value-cents per
    * (user, event_type) as of Jan 3 vs Jan 20. One full-outer join on
    * the key, non-key columns compared as one null-safe struct,
    * unchanged keys dropped (the delta contract). Oracle = two
    * QUALIFY-latest CTEs + FULL OUTER JOIN + IS DISTINCT FROM.
    */
  private[graft] lazy val qSnapshotDiff = GraftQuery(
    "q_snapshot_diff",
    (s, dir) => {
      def stateAt(cutUs: Long) = {
        val e = events(s, dir)
          .withColumn("e", unix_micros(col("ts")))
          .filter(col("e") <= cutUs)
          .select(col("user_id"), col("event_type"), col("event_id"), col("e"),
            (col("value").cast(dec) * 100).cast("long").as("cents"))
        Keyed.latestByKey(e, Seq("user_id", "event_type"), Seq("e", "event_id"))
          .select(col("user_id"), col("event_type"), col("cents"))
      }
      Relational.snapshotDiff(
        stateAt(1704240000000000L),  // 2024-01-03 00:00:00 UTC
        stateAt(1705708800000000L),  // 2024-01-20 00:00:00 UTC
        Seq("user_id", "event_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS e,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                FROM events),
            o AS (SELECT user_id, event_type, cents FROM e WHERE e <= 1704240000000000
                  QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY e DESC, event_id DESC) = 1),
            c AS (SELECT user_id, event_type, cents FROM e WHERE e <= 1705708800000000
                  QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY e DESC, event_id DESC) = 1)
            SELECT COALESCE(o.user_id, c.user_id) AS user_id,
              COALESCE(o.event_type, c.event_type) AS event_type,
              CASE WHEN o.user_id IS NULL THEN 'added'
                   WHEN c.user_id IS NULL THEN 'removed'
                   ELSE 'changed' END AS change
            FROM o FULL OUTER JOIN c
              ON o.user_id = c.user_id AND o.event_type = c.event_type
            WHERE o.user_id IS NULL OR c.user_id IS NULL
               OR o.cents IS DISTINCT FROM c.cents"""))


  private[graft] lazy val qTumbling = GraftQuery(
    "q_tumbling_window",
    (s, dir) =>
      Windows.tumbling(events(s, dir), "ts", Seq("event_type"), "1 hour")(
        count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"), col("sum_value")),
    Some(s"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
             event_type, $nSql AS n, $sumValSql AS sum_value
             FROM events GROUP BY 1, 2"""))


  private[graft] lazy val qHopping = GraftQuery(
    "q_hopping_window",
    (s, dir) =>
      Windows.hopping(events(s, dir), "ts", Seq("event_type"), "1 hour", "15 minutes")(
        count(lit(1)).as("n"))
        .select(unix_micros(col("window_start")).as("window_start_us"), col("event_type"), col("n")),
    Some(s"""SELECT ws AS window_start_us, event_type, $nSql AS n
             FROM (SELECT ((epoch_us(ts) // 900000000) - k) * 900000000 AS ws, event_type
                   FROM events, range(4) t(k))
             GROUP BY 1, 2"""))


  private[graft] lazy val qLagWindow = GraftQuery(
    "q_lag_window",
    (s, dir) =>
      Windows.lagWindow(events(s, dir), Seq("user_id"), Seq("ts", "event_id"), "value", 3)
        .select(col("event_id"), col("user_id"), col("v_0"), col("v_1"), col("v_2")),
    Some("""SELECT event_id, user_id, value AS v_0, lag(value, 1) OVER w AS v_1, lag(value, 2) OVER w AS v_2
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            QUALIFY lag(value, 2) OVER w IS NOT NULL"""))


  private[graft] lazy val qSession = GraftQuery(
    "q_session_window",
    (s, dir) =>
      Windows.session(events(s, dir), "ts", Seq("user_id"), "30 minutes")(
        count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .select(col("user_id"), unix_micros(col("session_start")).as("session_start_us"),
          col("n"), col("sum_value")),
    Some(s"""WITH x AS (
               SELECT user_id, event_id, epoch_us(ts) AS e, value,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                      THEN 1 ELSE 0 END AS brk
               FROM events),
             y AS (SELECT user_id, e, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY e, event_id ROWS UNBOUNDED PRECEDING) AS sid
                   FROM x)
             SELECT user_id, min(e) AS session_start_us, $nSql AS n, $sumValSql AS sum_value
             FROM y GROUP BY user_id, sid"""))


  private[graft] lazy val qIntervalJoin = GraftQuery(
    "q_interval_join",
    (s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val r = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      Joins.intervalJoin(l, r, "user_id", "c_user_id", "ts", "c_ts", 300000000L)
        .select(col("purchase_id"), col("click_id"), col("user_id"))
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND abs(epoch_us(p.ts) - epoch_us(c.ts)) < 300000000
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""))


  private[graft] lazy val qStreamTableJoin = GraftQuery(
    "q_stream_table_join",
    (s, dir) =>
      Joins.enrich(t(s, dir, "orders"), t(s, dir, "customer"), "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey"""))


  /** The SKEW path through the driver gate: the same enrichment join as
    * q_stream_table_join but through Joins.saltedJoin (deterministic
    * fact-side salt × `salt`-replicated dim) — the pathological-hot-key
    * answer when one key exceeds an executor's memory and AQE's skew
    * splits can't help. The oracle is the PLAIN join SQL: salting must
    * be row-identical, and the hash-match proves it on real data, not
    * just the unit spec.
    */
  private[graft] lazy val qSaltedJoin = GraftQuery(
    "q_salted_join",
    (s, dir) =>
      Joins.saltedJoin(t(s, dir, "orders"), t(s, dir, "customer"),
          "o_custkey", "c_custkey", uniqueFactCol = "o_orderkey", salt = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey"""))


  /** JOIN-KEY SKEW REPORT — the diagnostic a 100 TB pipeline runs
    * BEFORE choosing a salt factor (q_salted_join is the cure; this is
    * the diagnosis): per-key row counts folded into a log2-bucket
    * histogram (bucket = bit-length of the count — integer-exact on
    * both engines via length(bin(cnt)), no float log anywhere), plus
    * the global skew ratio max·1000 div floor-mean (1000 = uniform;
    * the salt factor to neutralize the hottest key is ≈ ratio/1000).
    * The ratio multiplies only max·1000, so it cannot overflow bigint
    * even at 10⁹ keys — max·keys·1000 div total would wrap at exactly
    * the scale this report exists to diagnose.
    *
    * Scale shape: the per-key count is the one fact shuffle (the same
    * exchange the join itself would pay); the histogram partial-
    * aggregates the key table into ≤64 groups and the 1-row totals
    * attach as a broadcast — the report adds nothing fact-sized.
    */
  private[graft] lazy val qSkewReport = GraftQuery(
    "q_skew_report",
    (s, dir) => {
      val cnts = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val hist = cnts.groupBy(length(bin(col("cnt"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"))
      val tot = cnts.agg(sum(col("cnt")).as("__total"), count(lit(1)).as("__keys"),
        max(col("cnt")).as("__gmax"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_keys"), col("n_rows"), col("max_cnt"),
          expr("__gmax * 1000 div greatest(__total div __keys, 1)").as("skew_milli"))
    },
    Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                  FROM events GROUP BY user_id),
            h AS (SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
                    CAST(count(*) AS BIGINT) AS n_keys,
                    CAST(sum(cnt) AS BIGINT) AS n_rows,
                    CAST(max(cnt) AS BIGINT) AS max_cnt
                  FROM c GROUP BY 1),
            t AS (SELECT sum(cnt) AS total, count(*) AS keys, max(cnt) AS gmax FROM c)
            SELECT bucket, n_keys, n_rows, max_cnt,
              CAST(gmax * 1000 // greatest(total // keys, 1) AS BIGINT) AS skew_milli
            FROM h, t"""))


  /** RANGE-LOOKUP JOIN (Joins.bucketedRangeJoin): the IP-range /
    * tier-table enrichment shape, demonstrated as a plausibility
    * diagnostic — for each event type's observed value span
    * [min, max] cents, how many events of ANY type fall inside it
    * (values outside a type's span cannot be that type). A pure
    * BETWEEN-predicate join plans as BroadcastNestedLoopJoin (every
    * fact row probes every range; the range table may not even fit
    * broadcast at production sizes); the bucket decomposition turns it
    * into an EQUI-join on fixed-width buckets + exact BETWEEN refine —
    * PlanSpec asserts the nested loop is gone. Exact cents, exact
    * containment; the oracle is the naive BETWEEN join.
    */
  private[graft] lazy val qRangeJoin = GraftQuery(
    "q_range_join",
    (s, dir) => {
      val cents = events(s, dir)
        .select(col("event_id"), col("event_type"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
      val ranges = cents.groupBy(col("event_type").as("r_type"))
        .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      Joins.bucketedRangeJoin(cents.select(col("event_id"), col("cents")),
          "cents", ranges, "lo", "hi", width = 10000L)
        .groupBy(col("r_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_contained"))
    },
    Some("""WITH c AS (SELECT event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  event_type
                FROM events),
            r AS (SELECT event_type AS r_type, CAST(min(cents) AS BIGINT) AS lo,
                    CAST(max(cents) AS BIGINT) AS hi
                  FROM c GROUP BY event_type)
            SELECT r_type, lo, hi, CAST(count(*) AS BIGINT) AS n_contained
            FROM c JOIN r ON c.cents BETWEEN r.lo AND r.hi
            GROUP BY r_type, lo, hi"""))


  /** INTERVAL-OVERLAP JOIN (Joins.intervalOverlapJoin): co-presence —
    * for each user pair, how many of their 30-min-gap sessions
    * intersected in time and for how long (exact microseconds). Both
    * sides are intervals, so this is the grid-bucketed overlap join:
    * each session explodes onto a 1-hour grid, candidates meet on an
    * equi-join on the cell, and the report-once rule (emit only in the
    * cell of max(lo_a, lo_b)) replaces the distinct a naive grid join
    * needs. Oracle = gaps-and-islands sessions + naive inequality
    * self-join.
    */
  private[graft] lazy val qOverlapSessions = GraftQuery(
    "q_overlap_sessions",
    (s, dir) => {
      def sess(sfx: String) =
        Windows.session(events(s, dir), "ts", Seq("user_id"), "30 minutes")(
          min(unix_micros(col("ts"))).as("lo" + sfx),
          max(unix_micros(col("ts"))).as("hi" + sfx))
          .select(col("user_id").as("user" + sfx), col("lo" + sfx), col("hi" + sfx))
      Joins.intervalOverlapJoin(sess("_a"), "lo_a", "hi_a",
          sess("_b"), "lo_b", "hi_b", width = 3600000000L)
        .filter(col("user_a") < col("user_b"))
        .groupBy(col("user_a"), col("user_b"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi_a"), col("hi_b")) - greatest(col("lo_a"), col("lo_b")))
            .as("overlap_us"))
    },
    Some("""WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS e,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                     THEN 1 ELSE 0 END AS brk
              FROM events),
            y AS (SELECT user_id, e,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY e, event_id ROWS UNBOUNDED PRECEDING) AS sid
                  FROM x),
            s AS (SELECT user_id, min(e) AS lo, max(e) AS hi FROM y GROUP BY user_id, sid)
            SELECT a.user_id AS user_a, b.user_id AS user_b,
              CAST(count(*) AS BIGINT) AS n_overlaps,
              CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT) AS overlap_us
            FROM s a JOIN s b
              ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
            GROUP BY 1, 2"""))


  /** BOUNDED-REPORT interval overlap (VERDICT r14 item 6 — the
    * 100 TB-shaped member of the overlap family): per USER, how many
    * session overlaps they participate in and the total co-presence
    * microseconds. q_overlap_sessions' per-PAIR report is bound BY
    * CONSTRUCTION by the pair count (10,000× at 100× data —
    * DuckDB-verified accounting in BASELINE.md, 32% of the r14 sf10
    * sweep on its own) — and measurement showed that ANY plan that
    * GENERATES the pairs pays that bill even if it aggregates them
    * away (the grid-join + endpoint-fold draft of this query read
    * 825 s isolated at sf10, on par with the exact pair query). So
    * this query never builds a pair: Joins.sweepLineOverlapTotals
    * answers both totals from the endpoint TIMELINE — per-session
    * overlap counts as two bucketed rank sums, overlap microseconds
    * as a prefix integral of the active-session count — O(S log S)
    * in sessions, exchanges session-sized always. Per-user totals are
    * IDENTICAL to folding the exact pair query's endpoints
    * (Round15OpsSpec pins it; the oracle IS the naive pair join). The
    * exact pair query stays the product surface for drill-down; THIS
    * is the sweep/headline member at decade-up scale.
    */
  private[graft] lazy val qOverlapCounts = GraftQuery(
    "q_overlap_counts",
    (s, dir) => {
      val sess = Windows.session(events(s, dir), "ts", Seq("user_id"), "30 minutes")(
          min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi"))
        .select(col("user_id"), col("lo"), col("hi"))
      // checkDisjoint=false: gap sessionization guarantees the
      // precondition STRUCTURALLY (consecutive own-key sessions are
      // ≥ gap apart), the documented caller exemption — the default-on
      // check costs one extra interval-sized pass (~17 s at sf10) that
      // would re-verify an invariant this caller constructs
      Joins.sweepLineOverlapTotals(sess, "user_id", "lo", "hi", width = 3600000000L,
        checkDisjoint = false)
    },
    Some("""WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS e,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                     THEN 1 ELSE 0 END AS brk
              FROM events),
            y AS (SELECT user_id, e,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY e, event_id ROWS UNBOUNDED PRECEDING) AS sid
                  FROM x),
            s AS (SELECT user_id, min(e) AS lo, max(e) AS hi FROM y GROUP BY user_id, sid),
            ov AS (SELECT a.user_id AS ua, b.user_id AS ub,
                     least(a.hi, b.hi) - greatest(a.lo, b.lo) AS ovus
                   FROM s a JOIN s b
                     ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi),
            ep AS (SELECT ua AS user_id, ovus FROM ov
                   UNION ALL
                   SELECT ub AS user_id, ovus FROM ov)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
              CAST(sum(ovus) AS BIGINT) AS overlap_us
            FROM ep GROUP BY user_id"""))


  private[graft] lazy val qMerge = GraftQuery(
    "q_merge",
    (s, dir) => {
      val ev = events(s, dir)
      Relational.merge(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "signup"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },
    Some(s"""SELECT event_type, $nSql AS n
             FROM (SELECT event_type FROM events WHERE event_type = 'purchase'
                   UNION ALL
                   SELECT event_type FROM events WHERE event_type = 'signup')
             GROUP BY event_type"""))


  private[graft] lazy val qSplitBranch = GraftQuery(
    "q_split_branch",
    (s, dir) =>
      Relational.branch(events(s, dir),
        Seq("high" -> (col("value") >= 100), "mid" -> (col("value") >= 10)), otherwise = "low")
        .groupBy("branch").agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value")),
    Some(s"""SELECT CASE WHEN value >= 100 THEN 'high' WHEN value >= 10 THEN 'mid' ELSE 'low' END AS branch,
             $nSql AS n, $sumValSql AS sum_value
             FROM events GROUP BY 1"""))


  private[graft] lazy val qChunk = GraftQuery(
    "q_chunk",
    (s, dir) =>
      Keyed.chunk(events(s, dir), Seq("user_id"), Seq("ts", "event_id"), 10)
        .select(col("event_id"), col("user_id"), col("chunk_id")),
    Some("""SELECT event_id, user_id,
            (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 10 AS chunk_id
            FROM events"""))


  private[graft] lazy val qSkipTake = GraftQuery(
    "q_skip_take",
    (s, dir) =>
      Keyed.skipTake(events(s, dir), Seq("user_id"), Seq("ts", "event_id"), skip = 5, take = 10)
        .select(col("event_id"), col("user_id"), col("rn").cast("long").as("rn")),
    Some("""SELECT event_id, user_id, CAST(rn AS BIGINT) AS rn
            FROM (SELECT event_id, user_id,
                    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn > 5 AND rn <= 15"""))


  private[graft] lazy val qThrottle = GraftQuery(
    "q_throttle",
    (s, dir) =>
      Keyed.throttle(events(s, dir), Seq("user_id"), Seq("ts", "event_id"), every = 5)
        .select(col("event_id"), col("user_id"), col("rn").cast("long").as("rn")),
    Some("""SELECT event_id, user_id, CAST(rn AS BIGINT) AS rn
            FROM (SELECT event_id, user_id,
                    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE (rn - 1) % 5 = 0"""))


  private[graft] lazy val qWordcount = GraftQuery(
    "q_wordcount",
    (s, dir) =>
      // Fence: the generate-inferred size/isnotnull predicates would
      // otherwise re-tokenize every row (see functions.Fence)
      Fence.guard(
          t(s, dir, "documents")
            .select(TextFns.tokensFast(col("text")).as("__toks")))
        .select(explode(col("__toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(100),
    Some(s"""WITH w AS (SELECT unnest($toksSql) AS word FROM documents)
             SELECT word, $nSql AS cnt FROM w GROUP BY word
             ORDER BY cnt DESC, word LIMIT 100"""))


  private[graft] lazy val qCandles = GraftQuery(
    "q_candles",
    (s, dir) =>
      Windows.tumbling(events(s, dir), "ts", Seq("event_type"), "1 hour")(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sumDec(col("value")).as("volume"),
        count(lit(1)).as("n_ticks"))
        .select(unix_micros(col("window_start")).as("window_start_us"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"), col("volume"), col("n_ticks")),
    Some(s"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us, event_type,
             arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
             arg_max(value, event_id) AS close, $sumValSql AS volume, $nSql AS n_ticks
             FROM events GROUP BY 1, 2"""))


  /** The reference's candle pipeline actually drives a HOPPING window
    * per timeframe (example/stocks.rs:129-180 via src/window.rs:95-180);
    * q_candles is the tumbling special case (size == hop), this is the
    * general overlapping form: 1 h candles refreshed every 15 min.
    */
  private[graft] lazy val qCandlesHop = GraftQuery(
    "q_candles_hop",
    (s, dir) =>
      Windows.hopping(events(s, dir), "ts", Seq("event_type"), "1 hour", "15 minutes")(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sumDec(col("value")).as("volume"))
        .select(unix_micros(col("window_start")).as("window_start_us"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"), col("volume")),
    Some(s"""SELECT ws AS window_start_us, event_type,
             arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
             arg_max(value, event_id) AS close, $sumValSql AS volume
             FROM (SELECT ((epoch_us(ts) // 900000000) - k) * 900000000 AS ws, event_type, value, event_id
                   FROM events, range(4) t(k))
             GROUP BY 1, 2"""))


  private[graft] lazy val qStratClassify = GraftQuery(
    "q_strat_classify",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val candles = Windows.tumbling(events(s, dir), "ts", Seq("event_type"), "1 hour")(
        min_by(col("value"), col("event_id")).as("open"),
        max_by(col("value"), col("event_id")).as("close"))
        .select(unix_micros(col("window_start")).as("window_start_us"), col("event_type"),
          col("open"), col("close"))
      val w = Window.partitionBy("event_type").orderBy("window_start_us")
      candles
        .withColumn("top", greatest(col("open"), col("close")))
        .withColumn("bottom", least(col("open"), col("close")))
        .withColumn("ptop", lag(greatest(col("open"), col("close")), 1).over(w))
        .withColumn("pbottom", lag(least(col("open"), col("close")), 1).over(w))
        .filter(col("ptop").isNotNull)
        .select(col("window_start_us"), col("event_type"),
          when(col("top") > col("ptop") && col("bottom") < col("pbottom"), 4L)
            .when(col("top") > col("ptop"), 2L)
            .when(col("bottom") < col("pbottom"), 3L)
            .otherwise(1L).as("strat_class"))
    },
    Some("""WITH c AS (
              SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws, event_type,
                     arg_min(value, event_id) AS open, arg_max(value, event_id) AS close
              FROM events GROUP BY 1, 2),
            d AS (
              SELECT ws, event_type,
                     greatest(open, close) AS top, least(open, close) AS bottom,
                     lag(greatest(open, close)) OVER w AS ptop,
                     lag(least(open, close)) OVER w AS pbottom
              FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ws))
            SELECT ws AS window_start_us, event_type,
                   CAST(CASE WHEN top > ptop AND bottom < pbottom THEN 4
                             WHEN top > ptop THEN 2
                             WHEN bottom < pbottom THEN 3
                             ELSE 1 END AS BIGINT) AS strat_class
            FROM d WHERE ptop IS NOT NULL"""))


  private[graft] lazy val qAsofJoin = GraftQuery(
    "q_asof_join",
    (s, dir) => {
      val l = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      // o_orderdate is NTZ; cast to TimestampType under the UTC session
      // (naive-as-UTC — exactly DuckDB's comparison semantics).
      val r = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      Joins.asofJoin(l, r, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("order_key"), col("o_totalprice").as("order_total"))
    },
    Some("""WITH o AS (
              SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
              QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1)
            SELECT e.event_id, e.user_id, o.o_orderkey AS order_key, o.o_totalprice AS order_total
            FROM events e ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts"""))


  /** Per-key TIME-based sliding aggregate (the event-time twin of the
    * count-window in q_running_stats): for every event, the count and
    * exact cents sum of the same user's events in the trailing 30
    * minutes. A RANGE frame over epoch micros — peers at the same
    * timestamp are included identically in both engines. One shuffle +
    * one per-key sort; both frames share the window spec.
    */
  private[graft] lazy val qTimeWindowSum = GraftQuery(
    "q_time_window_sum",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = (col("value").cast(dec) * 100).cast("long")
      val w = Window.partitionBy("user_id").orderBy(col("__us"))
        .rangeBetween(-1800000000L, 0L)
      events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("__us"),
          cents.as("__cents"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_30m"),
          sum(col("__cents")).over(w).as("sum_cents_30m"))
    },
    Some("""SELECT event_id, user_id,
              CAST(count(*) OVER w AS BIGINT) AS n_30m,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS BIGINT) AS sum_cents_30m
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)"""))


  /** Forward as-of with tolerance: each purchase matched to the NEXT
    * click by the same user within 10 minutes (Joins.asofJoinForward —
    * union-merge, one shuffle, no range join). Unmatched purchases ride
    * with -1 sentinels so the cross-engine compare stays NULL-free.
    */
  private[graft] lazy val qAsofForward = GraftQuery(
    "q_asof_forward",
    (s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
          col("ts").as("c_ts"))
      Joins.asofJoinForward(p, c, "user_id", "c_user_id", "ts", "c_ts",
          rightOrder = "click_id", rightPayload = Seq("click_id"),
          toleranceUs = Some(600000000L))
        .select(col("purchase_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("match_ts_us") - unix_micros(col("ts")), lit(-1L)).as("gap_us"))
    },
    Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS us
                       FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS us
                   FROM events WHERE event_type = 'click'),
             u AS (SELECT purchase_id, NULL::BIGINT AS click_id, user_id, us, 0 AS side FROM p
                   UNION ALL
                   SELECT NULL, click_id, user_id, us, 1 FROM c),
             m AS (SELECT purchase_id, user_id, us, side,
                     first_value(click_id IGNORE NULLS) OVER w AS mcid,
                     first_value(CASE WHEN side = 1 THEN us END IGNORE NULLS) OVER w AS mus
                   FROM u
                   WINDOW w AS (PARTITION BY user_id ORDER BY us, side, click_id
                                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             SELECT purchase_id, user_id,
               COALESCE(CASE WHEN mus - us <= 600000000 THEN mcid END, -1) AS click_id,
               COALESCE(CASE WHEN mus - us <= 600000000 THEN mus - us END, -1) AS gap_us
             FROM m WHERE side = 0"""))


  /** BIDIRECTIONAL as-of — the nearest-event join: q_asof_join matches
    * backward, q_asof_forward forward; this picks whichever purchase
    * is CLOSER in time to each click, either direction (ties prefer
    * the backward match) — the feature-store enrichment semantics
    * ("the reading nearest the label"). Same union-window discipline
    * as the directional twins: clicks and purchases ride ONE user_id
    * exchange carrying two ordered frames (ascending running-last for
    * the backward candidate, descending for the forward), so there is
    * no range join and no per-row search — plan-pinned to one
    * exchange. Emits exact epoch-µs deltas.
    */
  private[graft] lazy val qAsofNearest = GraftQuery(
    "q_asof_nearest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wb = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id").orderBy(col("t").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"),
          (col("event_type") === "purchase").as("__p"))
        .withColumn("__pt", when(col("__p"), col("t")))
        .withColumn("back_t", last(col("__pt"), ignoreNulls = true).over(wb))
        .withColumn("fwd_t", last(col("__pt"), ignoreNulls = true).over(wf))
        .filter(!col("__p") && (col("back_t").isNotNull || col("fwd_t").isNotNull))
        .withColumn("__useBack",
          col("fwd_t").isNull ||
            (col("back_t").isNotNull && (col("t") - col("back_t") <= col("fwd_t") - col("t"))))
        .select(col("event_id"), col("user_id"), col("t").as("t_us"),
          when(col("__useBack"), col("back_t")).otherwise(col("fwd_t")).as("near_us"),
          when(col("__useBack"), col("t") - col("back_t"))
            .otherwise(col("fwd_t") - col("t")).as("delta_us"),
          when(col("__useBack"), lit("back")).otherwise(lit("fwd")).as("direction"))
    },
    Some("""WITH cp AS (SELECT user_id, event_id, epoch_us(ts) AS t,
              event_type = 'purchase' AS is_p
            FROM events WHERE event_type IN ('click', 'purchase')),
            w AS (SELECT user_id, event_id, t, is_p,
              last_value(CASE WHEN is_p THEN t END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY t, event_id
                      ROWS UNBOUNDED PRECEDING) AS back_t,
              last_value(CASE WHEN is_p THEN t END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC
                      ROWS UNBOUNDED PRECEDING) AS fwd_t
            FROM cp)
            SELECT event_id, user_id, t AS t_us,
              CASE WHEN fwd_t IS NULL OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                   THEN back_t ELSE fwd_t END AS near_us,
              CASE WHEN fwd_t IS NULL OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                   THEN t - back_t ELSE fwd_t - t END AS delta_us,
              CASE WHEN fwd_t IS NULL OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                   THEN 'back' ELSE 'fwd' END AS direction
            FROM w WHERE NOT is_p AND (back_t IS NOT NULL OR fwd_t IS NOT NULL)"""))


  /** Trending items: top-3 event types per tumbling day window by
    * count (ties break to the type name) — the per-window grouped
    * top-k every analytics surface ships. One (day, type) partial-agg
    * shuffle, then the rank filter plans as WindowGroupLimit: each
    * partition keeps only its top rows BEFORE the window sort, so the
    * per-day sort never sees the full type cardinality.
    */
  private[graft] lazy val qWindowTopk = GraftQuery(
    "q_window_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(expr("cast(date_trunc('day', ts) as long) div 86400").as("day"), col("event_type"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("day").orderBy(col("n").desc, col("event_type"))))
        .filter(col("rnk") <= 3)
        .select(col("day"), col("event_type"), col("n"), col("rnk").cast("long").as("rnk"))
    },
    Some("""WITH d AS (SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) // 86400 AS day,
                  event_type
                FROM events),
            c AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2)
            SELECT day, event_type, n, CAST(rnk AS BIGINT) AS rnk
            FROM (SELECT day, event_type, n,
                    row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
                  FROM c)
            WHERE rnk <= 3"""))


  /** Time-series gap filling: one row per (user, hour) over each
    * user's ACTIVE span, zero-filled where no events landed — the
    * resample/regularize step before any per-entity time-series model.
    * Hours are exact epoch-hour integers (date_trunc then epoch
    * seconds div 3600 — no float time math).
    *
    * Shape (round-14 rewrite of the r14-appendix watch item): fill
    * ONLY the gaps. Each hourly row looks at its per-user successor
    * (one lead window) and emits the zero rows for the missing hours
    * between them via `sequence` — so nothing output-sized is ever
    * joined or sorted: the full output exists only as the map-side
    * union of the hourly aggregate and the exploded gap runs. The
    * previous form generated the whole span grid (output-sized) and
    * LEFT-joined the hourly aggregate back — at sf10 that shuffled and
    * sorted 104M grid rows and ran 1.93× above output growth under
    * task-memory pressure. Everything rides ONE user_id exchange: the
    * explicit repartition satisfies both the (user, hour) aggregate's
    * clustering and the lead window's partitioning.
    */
  private[graft] lazy val qGapFill = GraftQuery(
    "q_gap_fill",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("cast(date_trunc('hour', ts) as long) div 3600").as("h"),
        (col("value").cast(dec) * 100).cast("long").as("__cents"))
        // explicit count: the hourly frame is byte-tiny but the gap
        // explode amplifies rows output-sized, so AQE's byte-based
        // coalescing would run the whole explode in 1 task (see Width)
        .repartition(Width.computeDense(s), col("user_id"))
      val hourly = ev.groupBy("user_id", "h")
        .agg(count(lit(1)).as("n_events"), sum(col("__cents")).as("sum_cents"))
        .withColumn("__nh", lead(col("h"), 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("h")))
      // each hourly row emits itself + the zero rows up to its
      // successor from ONE explode — a union of (hourly, gaps)
      // branches would re-derive the scan+agg+window subtree twice
      val gapRow = (x: Column) =>
        struct(x.as("h"), lit(0L).as("n_events"), lit(0L).as("sum_cents"))
      hourly.select(col("user_id"), explode(concat(
          array(struct(col("h"), col("n_events"), col("sum_cents"))),
          when(col("__nh").isNotNull && col("__nh") > col("h") + 1,
            transform(sequence(col("h") + 1, col("__nh") - 1), gapRow))
            .otherwise(expr("array()")
              .cast("array<struct<h:bigint,n_events:bigint,sum_cents:bigint>>"))))
          .as("__r"))
        .select(col("user_id"), col("__r.h").as("h"),
          col("__r.n_events").as("n_events"), col("__r.sum_cents").as("sum_cents"))
    },
    Some("""WITH ev AS (SELECT user_id,
                  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS h,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                FROM events),
            hourly AS (SELECT user_id, h, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sm
                       FROM ev GROUP BY 1, 2),
            span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
            grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM span)
            SELECT grid.user_id, grid.h,
              coalesce(hourly.n, 0) AS n_events, coalesce(hourly.sm, 0) AS sum_cents
            FROM grid LEFT JOIN hourly USING (user_id, h)"""))


  /** CDC MERGE apply (Relational.applyChangelog): upsert a changelog
    * onto a base snapshot with DELETE semantics — the lakehouse MERGE
    * INTO. Base = latest cents per (user, event_type) as of Jan 3;
    * changelog = the Jan 3→20 events, rows with cents ≡ 0 (mod 10)
    * acting as deterministic tombstones. Per key only the LATEST change
    * applies: tombstone → key removed, upsert → replaced, untouched →
    * passes through. The changelog compacts via map-side max_by BEFORE
    * the single full-outer key join; the base never sorts.
    */
  private[graft] lazy val qCdcApply = GraftQuery(
    "q_cdc_apply",
    (s, dir) => {
      val e = events(s, dir)
        .withColumn("e", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("e"), col("event_id"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
      val base = Keyed.latestByKey(
          e.filter(col("e") <= 1704240000000000L), Seq("user_id", "event_type"), Seq("e", "event_id"))
        .select("user_id", "event_type", "cents")
      val changes = e.filter(col("e") > 1704240000000000L && col("e") <= 1705708800000000L)
        .withColumn("is_delete", col("cents") % 10 === 0)
      Relational.applyChangelog(base, changes, Seq("user_id", "event_type"),
        Seq("e", "event_id"), "is_delete")
    },
    Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS e,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                FROM events),
            base AS (SELECT user_id, event_type, cents FROM e
                     WHERE e <= 1704240000000000
                     QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                                ORDER BY e DESC, event_id DESC) = 1),
            latest AS (SELECT user_id, event_type, cents, cents % 10 = 0 AS is_delete FROM e
                       WHERE e > 1704240000000000 AND e <= 1705708800000000
                       QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                                  ORDER BY e DESC, event_id DESC) = 1)
            SELECT COALESCE(b.user_id, l.user_id) AS user_id,
                   COALESCE(b.event_type, l.event_type) AS event_type,
                   CASE WHEN l.user_id IS NULL THEN b.cents ELSE l.cents END AS cents
            FROM base b FULL OUTER JOIN latest l
              ON b.user_id = l.user_id AND b.event_type = l.event_type
            WHERE l.user_id IS NULL OR NOT l.is_delete"""))


  /** Per-event session ASSIGNMENT (Keyed.sessionize): 30-minute-gap
    * session index + position within session for every event — the
    * row-level twin of the q_session_window aggregate, for downstream
    * per-event features. One window spec shared by all four frames =
    * one shuffle + one sort, partitioned on the high-cardinality user
    * key.
    */
  private[graft] lazy val qSessionize = GraftQuery(
    "q_sessionize",
    (s, dir) => {
      val e = events(s, dir).withColumn("e_us", unix_micros(col("ts")))
        .select("event_id", "user_id", "e_us")
      Keyed.sessionize(e, Seq("user_id"), "e_us", Seq("e_us", "event_id"), 1800000000L)
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS e_us FROM events),
            f AS (SELECT event_id, user_id, e_us,
                    CASE WHEN lag(e_us) OVER w IS NULL
                           OR e_us - lag(e_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw,
                    row_number() OVER w AS rn
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e_us, event_id))
            SELECT event_id, user_id, e_us,
              CAST(sum(nw) OVER r AS BIGINT) AS session_idx,
              CAST(rn - max(CASE WHEN nw = 1 THEN rn END) OVER r + 1 AS BIGINT) AS pos_in_session
            FROM f WINDOW r AS (PARTITION BY user_id ORDER BY e_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

}
