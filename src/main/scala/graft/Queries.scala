package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** One registered query: the Spark implementation + the equivalent
  * DuckDB oracle SQL (None → driver records a weaker rows-only check).
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The full query inventory of SURVEY.md §2, wired for the driver's
  * DuckDB-oracle correctness gate.
  *
  * Portability rules (SURVEY.md §4) applied throughout:
  *  - money sums go through DECIMAL(18,2) (exact, associative) and are
  *    emitted as DOUBLE; averages are emitted as scaled integers
  *    (floor((sum*10^k)/n)) so no cross-engine float rounding exists;
  *  - timestamps are emitted as epoch microseconds BIGINT;
  *  - all hashes are md5-derived or integer-polynomial (never an
  *    engine-native hash);
  *  - every window/rank order carries a unique tiebreak (event_id);
  *  - counts/ranks are cast to BIGINT on both sides.
  */
object Queries
    extends QueriesStreamOps
    with QueriesSketch
    with QueriesEvents
    with QueriesRelational
    with QueriesDedupText
    with QueriesVector
    with QueriesGraph
    with QueriesPrivacy
    with QueriesSliced {


  private[graft] val M = TextFns.HashMod // 2147483647 = 2^31-1


  /** lineitem/orders timestamps are parquet TIMESTAMP(MILLIS, utc=false)
    * → Spark reads TIMESTAMP_NTZ. An NTZ literal comparison is wall-time
    * on both sides and therefore independent of the session time zone
    * (DuckDB timestamps are naive, so its TIMESTAMP literals match).
    */
  private[graft] def ntz(s: String): Column = to_timestamp_ntz(lit(s))


  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")


  /** Schema-adaptive events reader. The testdata generator has shipped
    * `ts` as both INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects outright without the legacy nanosAsLong conf) and plain
    * TIMESTAMP(MICROS, utc=false) (read as TIMESTAMP_NTZ). Normalize
    * both to a microsecond TimestampType via an explicitly-UTC cast
    * (GraftBridge.castUtc), so the conversion is epoch-preserving under
    * ANY session time zone — not just GraftSession's pinned UTC — and
    * `unix_micros(ts)` matches DuckDB's `epoch_us(ts)` on either
    * encoding (ns→µs truncation is DuckDB's read behavior too).
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df =
      try t(s, dir, "events")
      catch {
        // ONLY the INT64 TIMESTAMP(NANOS) footer rejection retries with
        // the legacy long read; unrelated failures (missing file,
        // permissions) rethrow as themselves. If the retry fails too,
        // the original rejection rides along as a suppressed exception
        // instead of being swallowed.
        case scala.util.control.NonFatal(first)
            if first.getMessage != null && first.getMessage.contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          try t(s, dir, "events")
          catch {
            case scala.util.control.NonFatal(second) =>
              second.addSuppressed(first); throw second
          }
      }
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // interpret the naive wall clock as UTC REGARDLESS of session tz
      // (a bare cast would shift the epoch under a non-UTC session,
      // breaking unix_micros-vs-DuckDB-epoch_us parity)
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.GraftBridge.castUtc(col("ts"), TimestampType))
      case _                => df // already TimestampType
    }
  }


  private[graft] val dec = DecimalType(18, 2)

  private[graft] def sumDec(c: Column): Column = sum(c.cast(dec)).cast("double")


  /** price * (1-disc) with exact decimal arithmetic on both engines:
    * the (1-disc) double op is IEEE-identical, its shortest-repr cast
    * to DECIMAL(12,8) matches DuckDB's double→decimal cast, and the
    * decimal product/sum are exact.
    */
  private[graft] def discPrice: Column =
    col("l_extendedprice").cast(dec) * (lit(1.0) - col("l_discount")).cast(DecimalType(12, 8))

  private[graft] def charge: Column =
    col("l_extendedprice").cast(dec) *
      ((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).cast(DecimalType(12, 8))


  // ---- shared DuckDB SQL fragments --------------------------------------

  /** Normalized whitespace tokens (mirror of TextFns.tokens). */
  private[graft] val toksSql =
    """list_filter(string_split_regex(regexp_replace(lower(text), '[(),";:''.]', '', 'g'), '\s+'), x -> x != '')"""


  /** 60-bit md5-prefix token hash mod 2^31-1 (mirror of TextFns.tokenHash31). */
  private[graft] def h31Sql(v: String) = s"('0x' || substr(md5($v), 1, 15))::BIGINT % $M"


  /** Full 60-bit md5-prefix hash, NO mod (mirror of TextFns.tokenHash):
    * for span/window fingerprints, where the 31-bit reduction's
    * birthday collisions (~W^2/2^32 false shared spans at production
    * window counts) would manufacture false duplication signals.
    */
  private[graft] def h60Sql(v: String) = s"('0x' || substr(md5($v), 1, 15))::BIGINT"


  /** Distinct word 3-grams over tk (mirror of DedupFns.wordNgrams(_, 3)). */
  private[graft] val grams3Sql =
    "CASE WHEN len(tk) >= 3 THEN list_distinct(list_transform(range(0, len(tk) - 2), i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) ELSE []::VARCHAR[] END"


  private[graft] val sumValSql = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"

  private[graft] val nSql = "CAST(count(*) AS BIGINT)"

  private[graft] def quantSql(v: String) = s"list_transform($v, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT))"


  private[graft] def minhashSigSql: String =
    "[" + (0 until DedupFns.NumHashes).map { i =>
      s"list_min(list_transform(h, x -> (${DedupFns.MinhashA(i)} * x + ${DedupFns.MinhashB(i)}) % $M))"
    }.mkString(", ") + "]"


  /** Shared DuckDB prefix: exact simhash near-dup pairs (`p(id_a,
    * id_b)`), the oracle twin of DedupFns.simhashNearDupPairs. Declared
    * WITH RECURSIVE so simhashCcSql can append the closure CTEs.
    */
  private[graft] def simhashPairsSql: String = simhashPairsSqlWhere("")


  /** The same pair-mining pyramid over a restricted document set —
    * `where` is a full ` WHERE …` suffix (empty = whole corpus). The
    * sliced decade-up parity twins (see [[qDedupClustersSliced]]) plug
    * the md5 doc-slice predicate in here so the recursive oracle stays
    * single-node-feasible at any SF.
    */
  private[graft] def simhashPairsSqlWhere(where: String): String =
    s"""WITH RECURSIVE
             t0 AS (SELECT doc_id, $toksSql AS tk FROM documents$where),
             hs AS (SELECT doc_id, list_transform(tk, t -> ${h31Sql("t")}) AS h FROM t0 WHERE len(tk) > 0),
             sums AS (SELECT doc_id,
                        list_transform(range(0, 32), j ->
                          CAST(list_sum(list_transform(h, x ->
                            CASE WHEN (x // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT)) AS sm
                      FROM hs),
             s AS (SELECT doc_id AS id,
                     CAST(list_sum(list_transform(range(0, 32), j ->
                       CASE WHEN sm[j+1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim
                   FROM sums),
             bd AS (SELECT id, sim, k, (sim >> (8*k)) & 255 AS byte FROM s CROSS JOIN range(0, 4) tt(k)),
             p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM bd a JOIN bd b ON a.k = b.k AND a.byte = b.byte AND a.id < b.id
                   WHERE bit_count(xor(a.sim, b.sim)) <= 3)"""


  /** simhash pairs → recursive transitive closure (`reach(id, r)`),
    * the oracle twin of Relational.connectedComponents.
    */
  private[graft] def simhashCcSql: String = simhashCcSqlWhere("")


  private[graft] def simhashCcSqlWhere(where: String): String =
    s"""${simhashPairsSqlWhere(where)},
             e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
             reach(id, r) AS (
               SELECT a, a FROM e
               UNION
               SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
             )"""


  /** Drop every session memo that holds block-manager storage — the
    * between-queries hygiene hook; see [[SessionMemo]] for the lifecycle.
    */
  def clearSessionMemos(): Unit = SessionMemo.clear()


  /** Corpus row counts for auto-sized index parameters (the √n IVF
    * discipline): one scalar count() per (session, dir, table).
    */
  private[graft] def tableCount(s: SparkSession, dir: String, table: String): Long =
    SessionMemo.scalar("count.table", Some(s), (dir, table))(t(s, dir, table).count())


  /** TokenMat GRADUATION flag (VERDICT r14 item 8): when
    * `SPARK_GRAFT_TOKENMAT=1` (env) or `spark.graft.tokenmat=1`
    * (session conf) AND the bucketed table `TokenMat.materialize`
    * wrote for THIS sf dir exists, the k-pass token pipelines (bm25,
    * bigram-LM family, tf-idf) read (doc_id, lang, __toks) from it
    * instead of tokenizing documents inline — the production path the
    * r14 rehearsal measured at 3.3–7.3× at sf10. Parity is EXACT (the
    * table holds the same tokensFast arrays, Round15OpsSpec pins it),
    * so the DuckDB oracle — which always tokenizes from documents —
    * is unchanged either way. The table name is a function of the dir
    * (TokenMat's convention), so a stale flag can never cross-wire
    * two scale factors. The driver never sets the flag: default
    * remains tokenize-inline.
    *
    * LOUD failure contract (VERDICT r15 item 4 + ADVICE r15): the flag
    * is an explicit instruction to read the materialized table. An
    * ABSENT table (e.g. a fresh JVM whose in-memory catalog dropped the
    * saveAsTable metadata) or a STALE one (documents re-generated after
    * materialization — detected via the `graft.doc_count` table
    * property TokenMat.materialize records) used to fall back to the
    * inline tokenize silently — the same quiet-perf/quiet-wrong cliff
    * class as the r14 codegen fallback; both now throw with a
    * re-materialize hint instead (Round16OpsSpec pins both paths).
    */
  private[graft] def tokenMatTable(s: SparkSession, dir: String): Option[DataFrame] = {
    val on = sys.env.get("SPARK_GRAFT_TOKENMAT")
      .orElse(scala.util.Try(s.conf.get("spark.graft.tokenmat")).toOption)
      .contains("1")
    if (!on) None
    else {
      val name = s"graft_tokens_${dir.split('/').last.replaceAll("[^A-Za-z0-9_]", "_")}"
      if (!s.catalog.tableExists(name))
        throw new IllegalStateException(
          s"spark.graft.tokenmat=1 but table '$name' does not exist in this session's " +
          s"catalog — run graft.TokenMat.materialize(spark, \"$dir\", \"$name\") first " +
          "or unset the flag. (Silent inline fallback is deliberately NOT done: a flag " +
          "the operator set must never quietly run the ~5x slower path.)")
      // deliberately NOT tableCount (the memoized count): a staleness
      // check that reads a count memoized before documents.parquet was
      // regenerated would compare stale-to-stale and miss (ADVICE r16)
      // — one uncached count() per flag-on query is the price of a
      // freshness check that also works within a session
      val expect = t(s, dir, "documents").count()
      val prop = s.sql(s"SHOW TBLPROPERTIES $name").collect()
        .collectFirst { case r if r.getString(0) == "graft.doc_count" => r.getString(1) }
      if (!prop.contains(expect.toString))
        throw new IllegalStateException(
          s"spark.graft.tokenmat=1 but table '$name' is STALE: recorded graft.doc_count=" +
          s"${prop.getOrElse("(absent)")} vs current documents count $expect for $dir — " +
          "documents changed since materialization; re-run graft.TokenMat.materialize " +
          "or unset the flag. (Serving stale tokens silently would diverge flag-on from " +
          "flag-off with no error.)")
      Some(s.table(name))
    }
  }


  /** The (doc_id, __toks) source every TokenMat-graduated pipeline
    * reads: the materialized bucketed table when the flag selects it,
    * else the fenced inline tokenize.
    */
  private[graft] def docToks(s: SparkSession, dir: String): DataFrame =
    tokenMatTable(s, dir)
      .map(_.select(col("doc_id"), col("__toks")))
      .getOrElse(Fence.guard(t(s, dir, "documents")
        .select(col("doc_id"), TextFns.tokensFast(col("text")).as("__toks"))))


  /** Auto-sized IVF centroid count for the all-to-all screens:
    * ⌈√n⌉ floored at 64 — cells (and thus per-query candidate volume
    * ≈ nprobe·√n) track the corpus instead of a fixed 16, so total
    * screen work is O(n^1.5), not O(n²). The sf1 rehearsal measured
    * the fixed-16 version at 75-79× per 10× data; this rule is the
    * fix (see BASELINE.md round-11 appendix).
    */
  private[graft] def autoK(n: Long): Int =
    math.max(64, math.ceil(math.sqrt(n.toDouble)).toInt)


  /** Exact near-dup pairs shared by every DERIVED dedup query
    * (clusters, survivors, degree histogram) — materialized once per
    * (session, dir) via localCheckpoint so the band self-join runs
    * once. q_dedup_simhash_pairs itself stays UN-cached: it is the
    * benched query, and its plan (band equi-join, shared exchange) is
    * the design artifact under PlanSpec.
    */
  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("pairs", s, dir)(
      DedupFns.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .localCheckpoint(true))


  /** Simhash pair mining + the iterative connected-components loop is
    * the most expensive dedup stage and feeds BOTH q_dedup_clusters and
    * q_dedup_survivors — memoized per (session, dir) so it runs once.
    * The result is already materialized (the CC loop localCheckpoints
    * its state), so re-reads are leaf scans.
    */
  private[graft] def simhashClusters(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("cc", s, dir)(
      Relational.connectedComponents(simhashPairs(s, dir), "id_a", "id_b"))


  /** Shared GRAPH STATE over the near-dup pair graph: the symmetric-
    * distinct self-loop-free edge list (src-partitioned, checkpointed)
    * plus the per-node degree frame, memoized per (session, dir) like
    * the CC/LPA state. Every member of the graph family (PageRank,
    * PPR, k-core, BFS, triangles, LPA) consumed its own private
    * union+distinct+checkpoint of the SAME pairs — ~0.5-1.1 s of
    * identical rebuild per invocation at sf0.1 on top of the memoized
    * pair mining. One build serves all (cold anchors still pay the
    * full build, per the SPARK_GRAFT_COLD sub-anchor convention).
    * simhashPairs emits each pair once with id_a < id_b, so the
    * symmetric union is distinct and self-loop-free by construction —
    * the operators' shared-state contract (Relational.triangleCounts
    * scaladoc).
    *
    * The symmetric edge list alone — consumers that never touch
    * degrees (k-core, BFS: they probe the list map-side) must not pay
    * the degree aggregation's build on a cold run, so the two frames
    * memoize independently (the sf10 cold sweep charges each query
    * its own first-touch build).
    */
  private[graft] def graphSym(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("sym", s, dir) {
      val p = simhashPairs(s, dir)
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
    }

  private[graft] def graphEdges(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sym = graphSym(s, dir)
    val deg = SessionMemo.frame("deg", s, dir)(
      sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true))
    (sym, deg)
  }


  /** LPA (labels, symmetric edge list) over the near-dup graph,
    * memoized per (session, dir) like the CC state, so the loop's
    * checkpointed labels share the memo release path (ADVICE r14).
    * Labels are checkpointed eagerly (referenced three times by the
    * modularity accounting). The edge list is the graphSym frame, which
    * the "sym" entry owns, so only the labels are pinned here.
    */
  private[graft] def lpaState(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.frames("lpa", s, dir) {
      val (labels0, edges) =
        Relational.labelPropagationWithEdges(simhashPairs(s, dir), "id_a", "id_b", iters = 3,
          prebuiltEdges = Some(graphSym(s, dir)))
      (labels0.localCheckpoint(true), edges)
    }(st => Seq(st._1))


  // ---- Deterministic 1/16 md5 slice: the decade-up parity valve ----
  // The recursive-CC / pair-explode / basket² oracle shapes are
  // single-node-bound: at sf1 they exceed what DuckDB finishes (the
  // round-11 appendix's 8 oracle timeouts) while the Spark side
  // completes — which left their decade-up parity VACUOUS. Each gets a
  // `_sliced` twin running the IDENTICAL operator chain over the docs
  // (or orders) whose md5 starts with hex '0': the slice keeps the
  // oracle's input at ~1/16 of any SF (sf1 slice ≈ 3.1k docs, below the
  // measured-good full sf0.1), so decade-up parity is MEASURED on every
  // shape. The predicate is engine-portable (md5-of-string both sides)
  // and the same family as q_split_assign's bucketing.
  private[graft] val sliceHex = "0"

  private[graft] val sliceHex2 = "00"


  /** Two-decade slice rule (round 13): the deterministic md5 slice is
    * 1/16 (one hex char) while the sliced id domain holds < 100k rows
    * (documents) / < 10M rows (lineitem), and narrows to 1/256 (two
    * chars — a strict SUBSET: prefix "00" ⊂ prefix "0") above, so the
    * DuckDB oracle's input stays bounded at ANY scale factor: sf0.01
    * and sf1 keep their measured 1/16 pins bit-for-bit, and sf10
    * (500k docs / 60M lineitem) gets measured 100×-parity instead of
    * an oracle timeout. Both engines derive the width from the SAME
    * rule — Spark from a (cached) metadata count-star, the oracle
    * from a scalar subquery — the dynamic-parameter oracle rule every
    * auto-sized query already follows. (Counts come from the same
    * tableCount memo the √n IVF auto-sizing uses, above.)
    */
  private[graft] def slicePredSql(idCol: String, table: String, threshold: Long): String =
    s"""(CASE WHEN (SELECT count(*) FROM $table) >= $threshold
          THEN substr(md5(CAST($idCol AS VARCHAR)), 1, 2) = '$sliceHex2'
          ELSE substr(md5(CAST($idCol AS VARCHAR)), 1, 1) = '$sliceHex' END)"""

  private[graft] def sliceDocPredSql(idCol: String): String =
    slicePredSql(idCol, "documents", 100000L)

  private[graft] def sliceCondAt(s: SparkSession, dir: String, table: String,
      threshold: Long)(idCol: Column): Column =
    if (tableCount(s, dir, table) >= threshold)
      substring(md5(idCol.cast("string")), 1, 2) === sliceHex2
    else substring(md5(idCol.cast("string")), 1, 1) === sliceHex

  /** The sliced document set, MATERIALIZED once per (session, dir) like
    * simhashPairs: a bare filter under the downstream operators'
    * Fence.guard subtrees de-canonicalizes them branch-by-branch (the
    * md5 predicate gets woven differently into each join side, so the
    * token pipeline re-derives per branch — PlanSpec's fence test
    * caught 6 tokenize sites on the twin vs 2 on the original), while a
    * checkpointed leaf keeps the twins' plans structurally identical to
    * their full-corpus originals. The slice is 1/16 of the corpus, so
    * the materialization is noise next to the pair joins above it.
    */
  private[graft] def slicedDocs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("slice", s, dir)(
      t(s, dir, "documents")
        .filter(sliceCondAt(s, dir, "documents", 100000L)(col("doc_id")))
        .localCheckpoint(true))


  private[graft] def simhashPairsSliced(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("pairs", s, dir + "#slice16")(
      DedupFns.simhashNearDupPairs(slicedDocs(s, dir), "doc_id", "text", maxHamming = 3)
        .localCheckpoint(true))


  private[graft] def simhashClustersSliced(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame("cc", s, dir + "#slice16")(
      Relational.connectedComponents(simhashPairsSliced(s, dir), "id_a", "id_b"))


  /** Shared oracle for q_decontam and q_bloom_decontam: the bloom
    * prefilter is candidate pruning only (no false negatives; false
    * positives die in the exact confirm join), so both queries must
    * hash-match this same exact answer.
    */
  private[graft] val decontamOracleSql = s"""WITH tk AS (SELECT doc_id, $toksSql AS tks FROM documents),
             g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, greatest(len(tks) - 2, 1)),
                     i -> array_to_string(tks[i:i+3], ' ')))) AS g
                   FROM tk WHERE len(tks) >= 4),
             probe AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
             kill AS (SELECT doc_id FROM g JOIN probe USING (g)
                      WHERE doc_id >= 3 GROUP BY doc_id HAVING count(DISTINCT g) >= 2)
             SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(len($toksSql)) AS BIGINT) AS tokens_kept
             FROM documents
             WHERE doc_id >= 3 AND doc_id NOT IN (SELECT doc_id FROM kill)
             GROUP BY source"""


  /** Mirror of VectorFns.lshBucketFor with the table index `t` as a
    * correlated column (table 0 == the original single-table formula).
    * `planesExpr` parameterizes the plane count — "4" for the fixed
    * query-side uses (lshTopK), or a scalar subquery against the
    * auto-sizing CTE [[lshPlanesSql]] for the corpus-tracking pair
    * miners.
    */
  private[graft] def lshBucketSql(v: String, planesExpr: String = "4"): String =
    s"""CAST(list_sum(list_transform(range(0, $planesExpr), j ->
        CASE WHEN CAST(list_sum(list_transform(range(1, 65), i ->
               $v[i] * (((t*131 + j*37 + (i-1)*17) % 21) - 10))) AS BIGINT) >= 0
             THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT)"""


  /** Oracle twin of VectorFns.autoPlanes: the smallest P with 2^P ≥
    * ⌈n/32⌉, floored at 4, as a one-row CTE (`lshp(p)`) — bucket count
    * tracks the corpus so LSH candidate volume stays O(n·occupancy).
    * Integer-exact: length(bin(m−1)) is bitlen, never a float log.
    */
  private[graft] def lshPlanesSql: String =
    """lshp AS (SELECT greatest(4, CAST(length(bin(((count(*) + 31) // 32) - 1)) AS BIGINT)) AS p FROM e)"""


  /** IVF ANN: deterministic centroid sample (smallest (md5(id), id)),
    * map-only nearest-centroid assignment via the native
    * plans.IvfProbesExpr (centroids ride in the plan as a literal — no
    * join/shuffle for assignment), candidates via equi-join on the
    * probed centroid id, exact integer re-rank. The DuckDB oracle
    * replicates centroid choice, (d2, cid)-ordered assignment/probing,
    * and scoring exactly.
    */
  /** Shared DuckDB IVF chain: centroids → assignment → probes → scored
    * candidates → `nn` = exact top-5 neighbors per query (mirror of
    * VectorFns.ivfTopK at kCentroids=16, nprobe=4, k=5).
    */
  private[graft] def ivfNnSql: String =
    s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
             cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS cid, v AS cv
                       FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
             d AS (SELECT e.vec_id, cents.cid,
                     CAST(list_sum(list_transform(range(1, 65), i -> (v[i]-cv[i])*(v[i]-cv[i]))) AS BIGINT) AS d2
                   FROM e CROSS JOIN cents),
             assign AS (SELECT vec_id, cid FROM
                          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
                        WHERE rn = 1),
             probes AS (SELECT vec_id, cid FROM
                          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                           FROM d WHERE vec_id < 20)
                        WHERE rn <= 4),
             sc AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
                      CAST(list_sum(list_transform(range(1, 65), i -> qe.v[i] * ce.v[i])) AS BIGINT) AS score
                    FROM probes p JOIN assign a ON p.cid = a.cid AND p.vec_id != a.vec_id
                    JOIN e qe ON qe.vec_id = p.vec_id
                    JOIN e ce ON ce.vec_id = a.vec_id),
             nn AS (SELECT query_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
                    FROM (SELECT query_id, neighbor_id, score,
                            row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
                          FROM sc)
                    WHERE rnk <= 5)"""


  /** TWO-LEVEL IVF top-k (VectorFns.ivfTopK2) as a first-class
    * oracle-checked query: 64 fine centroids (only their ⌈√64⌉=8
    * coarse prefix rides as a plan literal; the fine set is a broadcast
    * relation), queries probe 4 of 8 coarse cells and keep the 8
    * nearest fine centroids inside them, corpus rows assign through
    * their single nearest coarse cell. Every step is deterministic
    * integer arithmetic over the portable quantized vectors and the
    * md5 sample order, so DuckDB replays the ENTIRE two-level pipeline
    * — sample ranks, fine→coarse assignment, truncated probe sets,
    * argmin cell resolution, exact rescore — and the hash compare
    * covers the full approximation structure, not just the output
    * bound. (The d² forms differ syntactically — Spark uses
    * ‖x‖²+‖y‖²−2x·y off the dot kernel, the oracle sums squared
    * differences — but are identical in exact integers.)
    */
  /** Two-level IVF candidate chain — the DuckDB mirror of
    * VectorFns.ivfTopK2 at (kCentroids=64, nprobe=8, coarseProbes=4,
    * assignProbes=1): CTE chain e..sc where `sc` holds the exact
    * integer dot scores of every (query, candidate) pair meeting in a
    * probed fine cell (self excluded). `queryPred` filters which
    * embeddings rows act as queries; callers rank `sc` to their k.
    * Shared by q_embed_ivf2 (its own oracle) and q_rrf_fusion (the
    * IVF-backed semantic head).
    */
  private[graft] def ivf2ChainSql(queryPred: String): String = {
    val d2 = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    s"""e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
        samp AS (SELECT vec_id, v AS fv, fcid FROM
                   (SELECT vec_id, v, row_number() OVER (
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS fcid
                    FROM e)
                 WHERE fcid < 64),
        coarse AS (SELECT fcid AS ccid, fv AS cv FROM samp WHERE fcid < 8),
        fasg AS (SELECT fcid, fv, ccid FROM
                   (SELECT f.fcid, f.fv, c.ccid,
                      row_number() OVER (PARTITION BY f.fcid
                        ORDER BY ${d2("f.fv", "c.cv")}, c.ccid) AS rn
                    FROM samp f CROSS JOIN coarse c)
                 WHERE rn = 1),
        ca AS (SELECT vec_id, v, ccid FROM
                 (SELECT e.vec_id, e.v, c.ccid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${d2("e.v", "c.cv")}, c.ccid) AS rn
                  FROM e CROSS JOIN coarse c)
               WHERE rn = 1),
        asg AS (SELECT vec_id, v, fcid FROM
                  (SELECT ca.vec_id, ca.v, f.fcid,
                     row_number() OVER (PARTITION BY ca.vec_id
                       ORDER BY ${d2("ca.v", "f.fv")}, f.fcid) AS rn
                   FROM ca JOIN fasg f ON f.ccid = ca.ccid)
                WHERE rn = 1),
        qc AS (SELECT vec_id, v, ccid FROM
                 (SELECT e.vec_id, e.v, c.ccid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${d2("e.v", "c.cv")}, c.ccid) AS rn
                  FROM e CROSS JOIN coarse c WHERE $queryPred)
               WHERE rn <= 4),
        qf AS (SELECT vec_id, v, fcid FROM
                 (SELECT q.vec_id, q.v, f.fcid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ${d2("q.v", "f.fv")}, f.fcid) AS rn
                  FROM qc q JOIN fasg f ON f.ccid = q.ccid)
               WHERE rn <= 8),
        sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * a.v[i])) AS BIGINT) AS score
               FROM qf q JOIN asg a ON q.fcid = a.fcid AND q.vec_id != a.vec_id)"""
  }


  /** Shared oracle prefix for the phash32 pair family: the pixel-block
    * perceptual hash per doc — 32 code-point position blocks
    * lo_j = ⌊j·L/32⌋, intensity_j = first 8 md5 hex digits of the
    * block as unsigned, bit j set iff intensity_j·32 > Σ intensities —
    * replaying plans.BlockHash32 bit for bit (DuckDB substr/length
    * count code points exactly like UTF8String), then the brute
    * byte-band pigeonhole pair miner. Ends with `p(id_a, id_b, dist)`;
    * `where` narrows the doc set (the sliced twin). */
  private[graft] def phashPairsSql(where: String): String =
    s"""WITH t0 AS (SELECT doc_id, text, length(text) AS L FROM documents
                WHERE length(text) >= 4$where),
             ih AS (SELECT doc_id, list_transform(range(0, 32), j ->
                      ('0x' || substr(md5(substr(text, CAST((j*L)//32 + 1 AS BIGINT),
                         CAST(((j+1)*L)//32 - (j*L)//32 AS BIGINT))), 1, 8))::BIGINT) AS ints
                    FROM t0),
             s AS (SELECT doc_id AS id,
                     CAST(list_sum(list_transform(range(0, 32), j ->
                       CASE WHEN ints[j+1] * 32 > list_sum(ints) THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sim
                   FROM ih),
             bd AS (SELECT id, sim, k, (sim >> (8*k)) & 255 AS byte FROM s CROSS JOIN range(0, 4) tt(k)),
             p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS dist
                   FROM bd a JOIN bd b ON a.k = b.k AND a.byte = b.byte AND a.id < b.id
                   WHERE bit_count(xor(a.sim, b.sim)) <= 3)"""


  private[graft] def langScoreSql: String = {
    val langs = TextFns.Stopwords.keys.toSeq.sorted
    langs.map { l =>
      val lst = TextFns.Stopwords(l).map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(tk, t -> list_contains([$lst], t))) AS BIGINT) AS s_$l"
    }.mkString(", ")
  }


  private[graft] def langCaseSql: String = {
    val langs = TextFns.Stopwords.keys.toSeq.sorted
    val all = langs.map(l => s"s_$l").mkString(", ")
    val arms = langs.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE WHEN greatest($all) = 0 THEN 'und' $arms END"
  }


  /** Context-window chunking: split every document into 64-token
    * chunks with stride 32 (50% overlap) — the step that turns a
    * curated corpus into training sequences. Entirely MAP-ONLY (one
    * tokenize behind a Fence, one explode of the chunk starts, one
    * slice per chunk — zero shuffles), so it scales embarrassingly:
    * chunk identity is (doc_id, chunk_idx) and each chunk carries its
    * exact token count plus an md5 content fingerprint for downstream
    * chunk-level dedup.
    */
  /** The shared chunking pipeline behind q_doc_chunks / q_chunk_dedup. */
  private[graft] def docChunks(s: SparkSession, dir: String): DataFrame =
    TextFns.chunkDocs(t(s, dir, "documents"), "doc_id", "text", chunk = 64, stride = 32)


  /** Shared DuckDB chunk CTE prefix ending in ch(doc_id, chunk_idx, n_tokens, chunk_md5). */
  private[graft] def chunksSql: String =
    s"""WITH t0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
             ok AS (SELECT doc_id, tk FROM t0 WHERE len(tk) > 0),
             st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 32)) AS start FROM ok),
             ch AS (SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_idx,
                      CAST(len(tk[start+1:start+64]) AS BIGINT) AS n_tokens,
                      md5(array_to_string(tk[start+1:start+64], ' ')) AS chunk_md5
                    FROM st)"""


  /** Per-document top-3 terms by integer-scaled tf-idf: score =
    * (tf * 1e6 * N_docs) // df — floor division keeps the score an
    * exact BIGINT in both engines (a float idf would be a cross-engine
    * rounding surface). One token explode, one (term) aggregation for
    * document frequencies (broadcast — vocabulary-sized), one window
    * for the per-doc top-k. Ties break on the term.
    */
  /** tf-idf top-terms from an arbitrary (doc_id, __toks) frame — the
    * TokenMat re-point seam (see bm25ScoresToks).
    */
  private[graft] def tfidfFromToks(toksOf: DataFrame, nDocs: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val terms = toksOf.select(col("doc_id"), explode(col("__toks")).as("term"))
      // df derives FROM tf (already one row per doc×term — the
      // distinct() re-derivation tokenized the corpus a second time),
      // and tf wears the keepAll fence so its two consumers (score
      // join + df rollup) ride ONE reused exchange.
      val tf = Fence.keepAll(terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df), "term")
        .withColumn("score", (col("tf") * 1000000L * lit(nDocs) / col("df")).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rn").cast("long").as("rn"))
  }


  /** Broadcast-denylist term scrubbing (policy filtering): drop every
    * denylisted token, count the hits, and fingerprint the scrubbed
    * token sequence. The scrub is chained `array_remove` (codegen'd,
    * order- and duplicate-preserving) — no interpreted lambda, no
    * shuffle; the denylist rides in the plan as literals.
    */
  private[graft] val ScrubTerms = Seq("spark", "customer", "vector")

  /** ITERATED BPE vocabulary induction (Sennrich et al. 2016, the full
    * learn-BPE loop — completes the single-step q_bpe_pairs): k=10
    * merge rounds over the word-frequency vocabulary. Each round
    * counts adjacent symbol pairs weighted by word frequency, merges
    * the argmax pair (count desc, then lexicographic — a deterministic
    * version of the paper's arbitrary tie-break) in every word, and
    * repeats on the re-tokenized vocab. Words carry the paper's </w>
    * end-of-word marker so merges can learn whole-word units.
    *
    * Merge-application portability: a word is its symbols joined by
    * TWO spaces ("l  o  w  </w>"), so one plain `replace` of
    * " x  y " with " xy " applies the merge greedily left-to-right
    * WITHOUT the shared-boundary bug of single-space joins (the
    * pattern consumes one of the two separator spaces on each side,
    * so back-to-back occurrences "a b a b" both merge — exactly
    * Sennrich's non-overlapping regex semantics, asserted against a
    * brute-force fold in Round14OpsSpec). `replace` scans and consumes
    * identically in Spark (UTF8String.replace) and DuckDB, so the
    * oracle unrolls the same 10 rounds as a WITH chain and the merge
    * tables hash-match.
    *
    * Scale shape: the corpus is touched ONCE (tokenize + one token
    * shuffle into the distinct-word vocab — the same exchange budget
    * as q_bpe_pairs); all 10 rounds run over the VOCAB (bounded by
    * distinct tokens, ~10⁸ at 100 TB — never corpus-sized), each round
    * one map-only pair explode + one partial-agg pair count + a 1-row
    * TakeOrdered argmax broadcast back into a map-only replace. Lineage
    * is cut per round with an eager localCheckpoint (the q_pagerank /
    * q_kcore fixed-iteration discipline) and the loop exits early if a
    * round finds no pairs (count-based early exit; 1-row driver checks
    * per round, bounded by k=10).
    */
  /** The BPE learn loop's frames: per-round argmax merges (1-row
    * frames, index 0 = round 1) and per-round vocabularies (index 0 =
    * the pre-merge character vocab, index r = after r merges). Shared
    * by q_bpe_merges (consumes the merges) and q_bpe_apply (consumes
    * the vocab sequence — the apply/compression view). Each frame is
    * eagerly localCheckpointed (lineage cut per round).
    */
  /** BPE learn-chain memo (VERDICT r15 item 1): q_bpe_merges,
    * q_bpe_apply, q_bpe_encode and q_bpe_encode_counts all consume the
    * SAME learn loop; un-memoized, each query replayed the full
    * tokenize + 10 checkpointed rounds (3× identical work per sweep —
    * encode alone was 32 s at sf10, much of it the learn loop) and
    * left ~11 localCheckpoint frames unfreed until sweep hygiene — the
    * exact block-manager-leak class lpaState closed for LPA. The memo
    * runs the loop once per (session, dir, rounds) and pins EVERY frame
    * it checkpoints. No frame is freeable before release: the merge
    * frames are 1-row each, and every per-round vocab (vocab-bounded,
    * never corpus-sized) is live state — q_bpe_apply's compression
    * curve reads all 11 of them, so "superseded" only happens when the
    * memo itself is dropped. Round16OpsSpec pins memo-read ==
    * cold-rebuild equality.
    */
  private[graft] def bpeRounds(s: SparkSession, dir: String,
      rounds: Int): (Vector[DataFrame], Vector[DataFrame]) =
    SessionMemo.frames("bpe", s, (dir, rounds))(bpeRoundsCold(s, dir, rounds))(
      st => st._1 ++ st._2)


  private[graft] def bpeRoundsCold(s: SparkSession, dir: String,
      rounds: Int): (Vector[DataFrame], Vector[DataFrame]) = {
      val un = Fence.guard(t(s, dir, "documents")
          .select(TextFns.tokensFast(col("text")).as("__tk")))
        .select(explode(col("__tk")).as("tok"))
      var vocab = un.groupBy("tok").agg(count(lit(1)).as("f"))
        .select(expr(
          """concat(array_join(transform(sequence(1, length(tok)),
               i -> substr(tok, i, 1)), '  '), '  </w>')""").as("w"),
          col("f"))
        .localCheckpoint()
      var merges = Vector.empty[DataFrame]
      var vocabs = Vector(vocab)
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        // pairs via zipped slices (the qBigramLift pattern): a fully
        // merged single-symbol word slices to empty arrays and drops
        // out — sequence(1, size-1) would DESCEND to [1,0] at size=1
        // and index out of bounds
        val best = vocab
          .select(split(col("w"), "  ").as("sy"), col("f"))
          .select(explode(arrays_zip(
            slice(col("sy"), lit(1), size(col("sy")) - 1),
            slice(col("sy"), lit(2), size(col("sy")) - 1))).as("p"), col("f"))
          .select(col("p.0").as("x"), col("p.1").as("y"), col("f"))
          .groupBy("x", "y").agg(sum(col("f")).as("cnt"))
          .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
          .withColumn("merge_round", lit(r.toLong))
          .localCheckpoint()
        if (best.isEmpty) done = true
        else {
          merges :+= best
          vocab = vocab.crossJoin(broadcast(best.select(col("x"), col("y"))))
            .select(expr(
              """trim(replace(concat('  ', w, '  '),
                              concat(' ', x, '  ', y, ' '),
                              concat(' ', x, y, ' ')))""").as("w"),
              col("f"))
            .localCheckpoint()
          vocabs :+= vocab
        }
        r += 1
      }
      (merges, vocabs)
  }


  /** DuckDB mirror of the bpeRounds loop: CTE chain v0, (p_r, b_r,
    * v_r) for r = 1..rounds — shared by the q_bpe_merges and
    * q_bpe_apply oracles. AS MATERIALIZED throughout: DuckDB inlines
    * plain CTEs, and each v_r is referenced twice (p_{r+1} and
    * v_{r+1}) plus b_r three times — inlining would expand v10 into
    * 2^10 copies of the documents scan (observed as "Too many open
    * files" at sf0.001).
    */
  private[graft] def bpeChainSql(rounds: Int): String = {
    val v0 =
      s"""v0 AS MATERIALIZED (SELECT array_to_string(list_transform(range(1, length(tok) + 1),
                     i -> substr(tok, i, 1)), '  ') || '  </w>' AS w,
                     CAST(count(*) AS BIGINT) AS f
                   FROM (SELECT unnest($toksSql) AS tok FROM documents)
                   GROUP BY 1)"""
    val chain = (1 to rounds).map { r =>
      s"""p$r AS (SELECT pr[1] AS x, pr[2] AS y, CAST(sum(f) AS BIGINT) AS cnt
                   FROM (SELECT unnest(list_transform(range(1, len(sy)),
                           i -> [sy[i], sy[i+1]])) AS pr, f
                         FROM (SELECT string_split(w, '  ') AS sy, f FROM v${r - 1}))
                   GROUP BY 1, 2),
             b$r AS MATERIALIZED (SELECT x, y, cnt FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
             v$r AS MATERIALIZED (SELECT trim(replace('  ' || w || '  ',
                       ' ' || (SELECT x FROM b$r) || '  ' || (SELECT y FROM b$r) || ' ',
                       ' ' || (SELECT x FROM b$r) || (SELECT y FROM b$r) || ' ')) AS w, f
                     FROM v${r - 1})"""
    }.mkString(",\n")
    s"$v0,\n$chain"
  }


  /** Bigram language-model scoring of every document: the mean
    * conditional bigram probability p(y|x) = c(xy)/c(x) over the doc's
    * token sequence, in EXACT milli-units — the smoothing-free integer
    * skeleton of the KenLM-style fluency filter pipelines run before
    * training. Per-doc score = sum(c_xy*1000 div c_x) div n_bigrams;
    * every quantity is a positive integer, so the result is
    * engine-portable with no log/float surface.
    *
    * Scale shape: c_xy is a COUNT WINDOW over the (x,y) partitioning
    * of the bigram-instance frame itself — one exchange by
    * construction, where the aggregate+self-join form built the
    * instance exchange and the count exchange from separately-derived
    * (and separately-tokenized) subtrees that branch-local pruning
    * kept AQE from ever reusing. Only the unigram table keeps a join;
    * it is vocabulary-bounded (the optimizer broadcasts it when it
    * fits, which real vocabularies at 100 TB mostly do). Total: two
    * tokenize passes (bigram + unigram positions differ), down from
    * three.
    */
  /** Shared per-doc bigram-LM fluency kernel — the single definition
    * both q_bigram_lm (raw scores) and q_ppl_buckets (CCNet tertile
    * cut) build on, so the div semantics / size>=2 edge / slice bounds
    * can only ever change in one place. Returns
    * (doc_id, n_bigrams, lm_milli).
    */
  private[graft] def bigramLmPerDoc(s: SparkSession, dir: String): DataFrame =
    bigramLmFromToks(docToks(s, dir))


  /** Session memo of the bigram-LM per-doc kernel (round 17, the
    * spanIslandState discipline): q_bigram_lm, q_ppl_buckets and
    * q_ppl_buckets_scale each re-ran the identical two-tokenize-pass
    * kernel (bigram explode + (x,y) count window + vocab join + per-doc
    * aggregate) per invocation. The memoized frame is doc-sized (three
    * longs per doc); consumers derive raw scores / ntile tertiles /
    * histogram cuts from it. Keyed (session, dir) in [[SessionMemo]];
    * cold cost carried by the SPARK_GRAFT_COLD
    * sub-anchor convention. TokenMat note (VERDICT r17 item 1): the
    * memo serves ONLY flag-off sessions. When spark.graft.tokenmat=1
    * the memo is skipped entirely, so every call re-runs
    * tokenMatTable's absent/stale loud-throws and reads the
    * materialized table — a memoized flag-off frame can never bypass
    * the round-16 loud-failure contract (Round16OpsSpec pins it), and
    * a flag flip mid-session can never serve tokens built under the
    * earlier flag state.
    */
  private[graft] def bigramLmState(s: SparkSession, dir: String): DataFrame =
    if (tokenMatTable(s, dir).isDefined) bigramLmPerDoc(s, dir)
    else SessionMemo.frame("lm", s, dir)(bigramLmPerDoc(s, dir).localCheckpoint(true))


  /** bigram-LM kernel from an arbitrary (doc_id, __toks) frame — the
    * TokenMat re-point seam (see bm25ScoresToks).
    */
  private[graft] def bigramLmFromToks(toksOf0: => DataFrame): DataFrame = {
    def toksOf = toksOf0
    val bi = toksOf
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1))).as("p"))
      .select(col("doc_id"), col("p.0").as("x"), col("p.1").as("y"))
    val uni = toksOf
      .select(explode(col("__toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_x"))
    bi.withColumn("c_xy",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("x", "y")))
      .join(uni, col("x") === col("term"))
      .select(col("doc_id"), expr("(c_xy * 1000) div c_x").as("__p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__p")).as("__sum"))
      .select(col("doc_id"), col("n_bigrams"), expr("__sum div n_bigrams").as("lm_milli"))
  }


  /** DuckDB mirror of bigramLmPerDoc: CTE chain ending in
    * `lm(doc_id, n_bigrams, lm_milli)`; embed as `WITH $bigramLmSql`.
    */
  private[graft] val bigramLmSql: String =
    s"""t0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
             pr AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
                      i -> [tk[i+1], tk[i+2]])) AS p
                    FROM t0 WHERE len(tk) >= 2),
             bi AS (SELECT doc_id, p[1] AS x, p[2] AS y FROM pr),
             bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY 1, 2),
             un AS (SELECT unnest(tk) AS term FROM t0),
             uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c_x FROM un GROUP BY 1),
             sc AS (SELECT doc_id, (c_xy * 1000) // c_x AS p
                    FROM bi JOIN bc USING (x, y) JOIN uc ON bi.x = uc.term),
             lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      CAST(sum(p) // count(*) AS BIGINT) AS lm_milli
                    FROM sc GROUP BY doc_id)"""


  /** The 100 TB scale path q_ppl_buckets' scaladoc promises (SURVEY row
    * 31u3): per-language tertile CUTS from a bounded score HISTOGRAM
    * instead of a per-language window sort over the corpus. lm_milli is
    * an integer in [0, 1000], so groupBy(lang, lm_milli) is a partial-agg
    * shuffle of ≤ 1001 rows per language; the only window runs over that
    * bounded histogram (the documented empty-partition-window pattern),
    * the report aggregates the histogram in place, and PER-DOC labeling
    * (when a pipeline filters docs by tier) broadcasts the tiny cut
    * table — map-only, no second pass over the kernel. Tie semantics
    * differ from ntile by design — all docs sharing a score share a
    * tier: tier(v) = min(3, 1 + (3·|{docs > v}|) div n), exact rank
    * arithmetic on positive integers (Spark div = DuckDB //), so this
    * path is oracle-checkable, not merely sketch-bounded. For a score
    * domain too wide to histogram, the same shape holds with
    * approx_percentile (GK) supplying the cuts — SketchSpec bounds the
    * disagreement between this path and the ntile oracle twin to
    * boundary tie groups.
    */
  /** ppl_buckets_scale's histogram-cut body from an arbitrary
    * (doc_id, lang, lm_milli) frame — the TokenMat re-point seam (see
    * bm25ScoresToks).
    */
  private[graft] def pplBucketsScaleFrom(perDoc: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val histo = perDoc.groupBy(col("lang"), col("lm_milli"))
        .agg(count(lit(1)).as("__c"))
      // windows over the ≤1001-row-per-lang histogram, not the corpus;
      // the report aggregates the HISTOGRAM directly (one reference to
      // the per-doc kernel — per-doc labeling at scale broadcasts the
      // tiny (lang, lm_milli, tier) cut table instead, map-only, as
      // SketchSpec's per-doc disagreement check does)
      val above = Window.partitionBy("lang").orderBy(col("lm_milli").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val whole = Window.partitionBy("lang")
      histo
        .withColumn("__hi", coalesce(sum(col("__c")).over(above), lit(0L)))
        .withColumn("__n", sum(col("__c")).over(whole))
        .withColumn("tier", least(lit(3L), lit(1L) + expr("(3 * __hi) div __n")))
        .groupBy(col("lang"), col("tier"))
        .agg(sum(col("__c")).as("n_docs"),
          min(col("lm_milli")).as("lo_milli"), max(col("lm_milli")).as("hi_milli"))
  }


  /** BM25 relevance of every document against a fixed query term set,
    * in the same log-free integer-skeleton style as q_bigram_lm: the
    * Robertson idf (N-df+0.5)/(df+0.5) becomes the exact rational
    * (2(N-df)+1)/(2df+1) in milli-units, and the tf saturation
    * tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) is evaluated with k1=1.2,
    * b=0.75 as scaled integers with explicit floor division at each
    * step — every quantity positive, so Spark `div` and DuckDB `//`
    * agree bit-for-bit. The retrieval-scoring counterpart of
    * q_inverted_index: contamination probes and query-relevance
    * curation both rank with exactly this shape.
    *
    * Scale shape: two runtime token passes total (the bigram-lm
    * budget). The instance pass explodes and filters to the literal
    * query-term set BEFORE its shuffle, so only (doc, term) partials
    * travel, and df reuses the tf exchange. The doc-length pass
    * collapses to a (doc_id, dl) projection pinned on one
    * repartition(doc_id) exchange that BOTH the score join and the
    * corpus-scalar aggregate reuse — shuffling 16 bytes/doc instead of
    * tokenizing twice more or re-shuffling the token arrays. The
    * corpus scalars (N, avgdl) ride a 1-row broadcast — no global
    * sort, no all-pairs anything.
    * Exactness bound: idf_milli·tf·2200 ≲ 2000·N·tf_max·2200 must fit
    * int64 → safe to N ≈ 10¹² docs at tf ≤ 2000; past that, scale idf
    * to micro- instead of milli-units or sum via decimal(38,0).
    */
  /** (doc_id, n_hit_terms, bm25_milli) — the shared BM25 integer
    * scoring pipeline (scaladoc above); consumed by q_bm25 itself and
    * as the lexical side of q_rrf_fusion.
    */
  private[graft] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    bm25ScoresToks(docToks(s, dir))


  /** Session memo of the BM25 per-doc scores (round 17, the
    * spanIslandState discipline): q_bm25 and q_rrf_fusion's lexical
    * head each re-ran the two bounded token passes per invocation. The
    * memoized frame is ≤ docs-sized (only query-term hits). Same
    * lifecycle as bigramLmState above, including the flag-on memo skip
    * (VERDICT r17 item 1): with spark.graft.tokenmat=1 every call goes
    * through tokenMatTable's absent/stale checks instead of the memo.
    */
  private[graft] def bm25State(s: SparkSession, dir: String): DataFrame =
    if (tokenMatTable(s, dir).isDefined) bm25Scores(s, dir)
    else SessionMemo.frame("bm25", s, dir)(bm25Scores(s, dir).localCheckpoint(true))


  /** The bm25 pipeline from an arbitrary (doc_id, __toks) frame — the
    * seam the tokenized-corpus materialization rehearsal (TokenMat)
    * re-points at a pre-tokenized bucketed table instead of the
    * per-query tokenize. By-name so each use site instantiates its own
    * subtree (the keepAll fences then pin exchange reuse).
    */
  private[graft] def bm25ScoresToks(toksOf0: => DataFrame): DataFrame = {
      val qterms = Seq("spark", "table", "fast", "query")
      def toksOf = toksOf0
      // dl feeds the score join AND the corpus scalars; tf feeds the
      // score join AND the df table. Both are bounded frames consumed
      // twice, so both wear the keepAll canonicality fence — without
      // it branch-local pruning specializes each consumer's copy and
      // the tokenize pipeline runs once PER CONSUMER (four document
      // scans, measured by PlanAudit) instead of once per derivation.
      val dl = Fence.keepAll(
        toksOf.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"))
          .filter(col("doc_id").isNotNull)
          .repartition(col("doc_id")))
      // the explicit doc_id isNotNull pre-materializes the constraint
      // the dl join would otherwise infer on the join-side copy only
      // (the q15 disease — one branch's scan grows an extra filter and
      // the shared exchange de-canonicalizes)
      val tf = Fence.keepAll(
        toksOf.select(col("doc_id"), explode(col("__toks")).as("term"))
          .filter(col("term").isin(qterms: _*) && col("doc_id").isNotNull)
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("__tot"))
        .select(col("n_docs"), expr("(__tot * 1000) div n_docs").as("avgdl_milli"))
      tf.join(df, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(corpus))
        .select(col("doc_id"),
          expr("((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)").as("__idf_milli"),
          expr("250 + (750 * ((dl * 1000000) div avgdl_milli)) div 1000").as("__norm_milli"),
          col("tf"))
        .select(col("doc_id"),
          expr("(__idf_milli * tf * 2200) div (tf * 1000 + (1200 * __norm_milli) div 1000)")
            .as("__term_score"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit_terms"), sum(col("__term_score")).as("bm25_milli"))
  }


  /** The bm25 oracle's CTE chain (t0..sc), shared with q_rrf_fusion. */
  private[graft] val bm25CoreSql =
    s"""t0 AS (SELECT doc_id, $toksSql AS tk FROM documents
                         WHERE doc_id IS NOT NULL),
             dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t0),
             inst AS (SELECT doc_id, unnest(tk) AS term FROM t0),
             tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                    FROM inst WHERE term IN ('spark', 'table', 'fast', 'query')
                    GROUP BY 1, 2),
             df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                          CAST((sum(dl) * 1000) // count(*) AS BIGINT) AS avgdl_milli
                        FROM dl),
             sc AS (SELECT doc_id,
                      ((2 * (n_docs - df) + 1) * 1000) // (2 * df + 1) AS idf_milli,
                      250 + (750 * ((dl * 1000000) // avgdl_milli)) // 1000 AS norm_milli,
                      tf
                    FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus)"""


  /** Cross-source DOMAIN-SIMILARITY matrix: per-source embedding
    * centroid (exact-integer floored mean per dim over the quantized
    * milli vectors), then pairwise centroid cosine — the corpus-level
    * "which domains say the same things" view that drives mixture
    * design (near-identical sources are dedup candidates at the SOURCE
    * level; dissimilar ones justify separate q_mix_weights shares) and
    * transfer-ability heuristics. Cosine stays in integers: emit dot,
    * both squared norms, and the sign-preserved cos²·1000 floor-div —
    * no sqrt on either engine. Scale shape: one id equi-join
    * (embeddings ⋈ documents), a posexplode whose (source, dim)
    * partial agg map-side-combines to sources×64 rows per task, then
    * the pairwise frame is (sources choose 2) — dimension-table sized
    * at any corpus scale, broadcast-joined against itself.
    */
  /** The q_domain_sim operator body over explicit inputs (testable with
    * a synthetic corpus — the overflow-guard spec needs centroids
    * OUTSIDE the unit-norm envelope, which the testdata never has).
    */
  private[graft] def domainSimOf(emb: DataFrame, docs: DataFrame): DataFrame = {
      // Fence pins quantize to one evaluation (the isNotNull pushdown
      // would substitute the kernel into the filter — kmeansStep's
      // precedent); the filter itself mirrors the oracle's null screen
      val e = Fence.guard(emb
          .select(col("vec_id"), VectorFns.quantizeFast(col("embedding")).as("qv")))
        .filter(col("qv").isNotNull)
      val d = docs.select(col("doc_id"), col("source"))
      val cents = e.join(d, e("vec_id") === d("doc_id"))
        .select(col("source"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("source", "dim")
        .agg(sum(col("v")).as("sm"), count(lit(1)).as("cnt"))
        .withColumn("c", expr("(sm - ((sm % cnt + cnt) % cnt)) div cnt"))
        .groupBy("source")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("cv"))
        .withColumn("nrm", VectorFns.qdotFast(col("cv"), col("cv")))
        // sources-sized (one row per source) — materialize once so the
        // pairwise self-join below reads a tiny leaf twice instead of
        // scanning the corpus twice
        .localCheckpoint(true)
      // Overflow guard (ADVICE r14): cos2_milli = dot²·1000 div (na·nb)
      // needs |dot| ≤ 6.4e7 to keep dot²·1000 under Long.MaxValue, which
      // Cauchy–Schwarz guarantees iff every centroid norm² ≤ 64e6 (the
      // unit-norm milli envelope: 64 dims × 1000² exactly). Embeddings
      // even ~1.5× above unit norm would silently wrap DIFFERENTLY on
      // the two engines (Spark wraps, DuckDB errors) — fail loudly here
      // instead. The check is one action on the sources-sized
      // checkpointed leaf, free at any corpus scale.
      val overNorm = cents.filter(col("nrm") > lit(64000000L)).select(col("source")).take(1)
      require(overNorm.isEmpty,
        s"q_domain_sim: centroid norm² exceeds the unit-norm milli envelope (64e6) for " +
          s"source '${overNorm.headOption.map(_.getString(0)).getOrElse("")}' — cos2_milli " +
          "would overflow; rescale the embedding column before this query")
      val a = cents.select(col("source").as("source_a"), col("cv").as("__cva"), col("nrm").as("na"))
      val b = cents.select(col("source").as("source_b"), col("cv").as("__cvb"), col("nrm").as("nb"))
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .withColumn("dot", VectorFns.qdotFast(col("__cva"), col("__cvb")))
        .withColumn("cos2_milli",
          when(col("na") === 0 || col("nb") === 0, lit(0L))
            .when(col("dot") < 0, -expr("(dot * dot * 1000) div (na * nb)"))
            .otherwise(expr("(dot * dot * 1000) div (na * nb)")))
        .select(col("source_a"), col("source_b"), col("dot"), col("na"), col("nb"), col("cos2_milli"))
  }


  /** Embedding hubness report (Radovanović et al. 2010: in high-dim
    * spaces some points become "hubs" that appear in far more kNN lists
    * than expected — over-represented in retrieval and a dedup/quality
    * hazard): EVERY corpus vector queries the IVF index for its top-5
    * approximate neighbors, then in-degree per neighbor; top-20 hubs.
    * The all-to-all kNN graph rides the two-level IVF equi-join
    * (`VectorFns.ivfTopK2`) with an AUTO-SIZED fine-centroid count
    * k = max(64, ⌈√n⌉): candidates per query are nprobe·n/k ≈ 8√n, so
    * the whole screen is O(n^1.5) — never all-pairs even though
    * queries = corpus, and never the O(n²/k) a FIXED k degrades to
    * (the sf1 rehearsal measured the fixed-16 single-level version at
    * 79× per 10× data; this shape re-measured at ~4×). The in-degree
    * aggregate + top-20 run on candidate-sized data. The oracle
    * replays the full two-level chain with the same ⌈√n⌉ rule.
    */
  /** Shared ALL-TO-ALL IVF kNN chain (queries = corpus; mirror of
    * VectorFns.ivfTopK2(e, e, _, _, 5, kCentroids = max(64, ⌈√n⌉),
    * nprobe = 8, coarseProbes = 4, assignProbes = 1)) — used by the
    * hubness report and the label-consistency screen. Ends at
    * `nn(query_id, neighbor_id)`.
    *
    * The centroid count is a FUNCTION OF THE CORPUS (⌈√n⌉, floored at
    * 64 — `params`): with a fixed k, per-query candidates are n/k·
    * nprobe, so an all-to-all screen is O(n²/k) — the sf1 rehearsal
    * measured exactly that (75-79× per 10× data at k=16). At k = √n
    * the screen is O(n^1.5) with two-level assignment cost O(n·√k)
    * and an n^¼-sized coarse plan literal — the shape that survives
    * the next several decades; past ~10⁹ vectors the IVFADC variant
    * (q_ivfpq) replaces exact re-scoring entirely.
    */
  private[graft] def ivfAllNnSql: String = {
    val d2 = (a: String, b: String) =>
      s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
             params AS (SELECT greatest(64, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k,
                          CAST(ceil(sqrt(greatest(64, CAST(ceil(sqrt(count(*))) AS BIGINT)))) AS BIGINT) AS k1
                        FROM e),
             samp AS (SELECT vec_id, v AS fv, fcid FROM
                        (SELECT vec_id, v, row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS fcid
                         FROM e)
                      WHERE fcid < (SELECT k FROM params)),
             coarse AS (SELECT fcid AS ccid, fv AS cv FROM samp
                        WHERE fcid < (SELECT k1 FROM params)),
             fasg AS (SELECT fcid, fv, ccid FROM
                        (SELECT f.fcid, f.fv, c.ccid,
                           row_number() OVER (PARTITION BY f.fcid
                             ORDER BY ${d2("f.fv", "c.cv")}, c.ccid) AS rn
                         FROM samp f CROSS JOIN coarse c)
                      WHERE rn = 1),
             ca AS (SELECT vec_id, v, ccid FROM
                      (SELECT e.vec_id, e.v, c.ccid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY ${d2("e.v", "c.cv")}, c.ccid) AS rn
                       FROM e CROSS JOIN coarse c)
                    WHERE rn = 1),
             asg AS (SELECT vec_id, v, fcid FROM
                       (SELECT ca.vec_id, ca.v, f.fcid,
                          row_number() OVER (PARTITION BY ca.vec_id
                            ORDER BY ${d2("ca.v", "f.fv")}, f.fcid) AS rn
                        FROM ca JOIN fasg f ON f.ccid = ca.ccid)
                     WHERE rn = 1),
             qc AS (SELECT vec_id, v, ccid FROM
                      (SELECT e.vec_id, e.v, c.ccid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY ${d2("e.v", "c.cv")}, c.ccid) AS rn
                       FROM e CROSS JOIN coarse c)
                    WHERE rn <= 4),
             qf AS (SELECT vec_id, v, fcid FROM
                      (SELECT q.vec_id, q.v, f.fcid,
                         row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY ${d2("q.v", "f.fv")}, f.fcid) AS rn
                       FROM qc q JOIN fasg f ON f.ccid = q.ccid)
                    WHERE rn <= 8),
             sc AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
                      CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * a.v[i])) AS BIGINT) AS score
                    FROM qf q JOIN asg a ON q.fcid = a.fcid AND q.vec_id != a.vec_id),
             nn AS (SELECT query_id, neighbor_id FROM
                      (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
                       FROM sc)
                    WHERE rnk <= 5)"""
  }


  /** Shared DuckDB PQ chain (mirror of VectorFns.pqCodebook/pqEncode at
    * m=8 subspaces × k=16 codes over 64 dims): `cb` rebuilds the
    * codebook from the same (md5(id), id) sample, `enc` is the per-
    * (vector, subspace) argmin code with its squared error. Every step
    * is exact integer arithmetic, so the full encode replays
    * cross-engine.
    */
  private[graft] def pqEncSql: String =
    s"""WITH e AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
             cb0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS j, v
                     FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
             cb AS (SELECT m, j, list_slice(v, m*8 + 1, m*8 + 8) AS cv
                    FROM cb0 CROSS JOIN range(0, 8) mm(m)),
             sd AS (SELECT e.vec_id, cb.m, cb.j,
                      CAST(list_sum(list_transform(range(1, 9), i -> (v[m*8+i]-cv[i])*(v[m*8+i]-cv[i]))) AS BIGINT) AS d2
                    FROM e CROSS JOIN cb),
             enc AS (SELECT vec_id, m, j AS code, d2 FROM
                       (SELECT vec_id, m, j, d2,
                          row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn FROM sd)
                     WHERE rn = 1)"""


  /** pqEncSql + the ADC scan: `ad` = per-(query, corpus vector)
    * approximate distance (sum over subspaces of the query's distance
    * table entry at the corpus vector's code). */
  private[graft] def pqAdcSql: String =
    s"""$pqEncSql,
             q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
             qd AS (SELECT query_id, cb.m, cb.j,
                      CAST(list_sum(list_transform(range(1, 9), i -> (qv[m*8+i]-cv[i])*(qv[m*8+i]-cv[i]))) AS BIGINT) AS d2
                    FROM q CROSS JOIN cb),
             ad AS (SELECT qd.query_id, enc.vec_id AS neighbor_id,
                      CAST(sum(qd.d2) AS BIGINT) AS adist
                    FROM enc JOIN qd ON qd.m = enc.m AND qd.j = enc.code
                    WHERE qd.query_id != enc.vec_id
                    GROUP BY 1, 2)"""


  // =======================================================================
  // Round-12: sliced decade-up parity twins. Same operator chains as
  // their full-corpus originals, over the deterministic md5 1/16 slice
  // (see the slice helpers above) — they exist so the 8 shapes whose
  // full-corpus DuckDB oracle is single-node-bound at sf1 (round-11
  // appendix, BASELINE.md) still get MEASURED (non-vacuous) decade-up
  // oracle parity. The originals remain the engine's product surface;
  // these are its cross-scale verification instruments.
  // =======================================================================

  private[graft] val sliceWhere = s" WHERE ${sliceDocPredSql("doc_id")}"


  val all: Seq[GraftQuery] = Seq(
    qMapFilter, qFilterMap, qCycle, qFoldAgg, qDistinctUsers, qTopkPerKey, qPivotCounts, qApproxDistinct, qHllRollup, qHeavyHitters, qHeavyHittersVerified, qCmsFreq, qJoinCardEst, qQuantiles, qQuantilesExact, qTableLatest, qSnapshotDiff, qTumbling, qHopping, qLagWindow, qSession,
    qIntervalJoin, qStreamTableJoin, qSaltedJoin, qSkewReport, qRangeJoin, qOverlapSessions, qOverlapCounts, qMerge, qSplitBranch, qChunk, qSkipTake, qThrottle,
    qCdcApply, qSessionize, qTypoPairs, qPrefixJaccard, qZonemap,
    qWordcount, qCandles, qCandlesHop, qStratClassify, qAsofJoin,
    q1Pricing, q3Topk, q5Region, q14Promo, q2Mincost, q18Bigorders, q22Churn, q4Semi,
    q6Forecast, q10Returns, q12Priority, q19Brackets, q13Custdist, q16Suppliers,
    q7Trade, q15TopSupp, q17SmallQty, q21Blame, q20Excess, q8Share, qJsonExtract,
    qNegPairs, qPiiScrub, qKanon, qLdiv, qDpHistogram, qDpMean, qDpQuantile, qDrift, qDedupReport,
    qBpePairs, qBpeMerges, qBpeApply, qBpeEncode, qBpeEncodeCounts,
    qDedupExact, qDedupMinhash, qMinhashRescore, qContainment, qMinhashEst, qDedupSimhash, qDedupSimhashPairs,
    qDedupClusters, qPagerank, qPprSeeds, qKcore, qBfsHops, qTriangles, qTrianglesApprox, qLabelProp, qQualityDup, qHapax, qNgramJaccard, qSortedDedup, qDedupEmbed, qRepetition,
    qSplitLeakage, qJaccardCalib, qGroupSplit,
    qEmbedTopk, qAnnRecall, qAnnCurve, qEmbedLsh, qEmbedIvf, qEmbedIvf2, qKmeansStep, qKmeansTrain, qDocChunks, qChunkDedup,
    qKnnClassify, qClassBalance, qLabelConsistency, qGapFill, qInvertedIndex,
    qLangId, qQualityScore, qCuration, qHtmlExtract, qSplitAssign, qPackSequences, qSamplePerKey, qWeightedSample,
    qTfidfTopterms, qDsirWeights, qContamination, qDecontam, qDedupSavings, qRankCorr,
    qShuffleOrder, qClassifierScore, qGopherQuality, qVocabCoverage, qFunnel, qRetention, qLangConfusion,
    qInterarrival, qHistDistance, qMad, qWinsorMean, qSourceOverlap, qRankNorm,
    qAttribution, qRollingActives, qCompactionPlan, qGlobalMedian,
    qLangPurity, qTtr, qCosineBands, qJaccardBands, qTransitions, qCohorts,
    qIqr, qSpikes, qBootstrap, qTwap, qCandleReturns, qLifespan, qZipfTop,
    qChurnUsers, qDauMa, qGini, qDaypart, qConversionLag,
    qDedupSurvivors, qRunningStats, qEwma, qCusum, qTrendSlope, qAutocorr, qSpanDedup, qTermScrub, qValueHistogram,
    qBigramLift, qCopurchase, qBigramLm, qPplBuckets, qPplBucketsScale, qDupNgram, qSemdedup, qBm25, qRrfFusion, qCdcChunks,
    qOutliers, qTokenBudget, qRollupStats, qTimeWindowSum,
    qProfile, qStratifiedSample, qAsofForward, qAsofNearest, qScd2, qPairCuration, qWindowTopk,
    qRunningDistinct, qFirstSeen, qDedupDegree, qDecileBin,
    qBloomDecontam, qDupSpanRuns, qEmbedQuant, qGramMatrix, qPcaPower, qMixWeights, qDomainSim, qEmbedPq, qPqAdc, qPqRescore, qDedupPrio, qKnnHubs, qIvfPq, qEmbedBinary, qSpanScrub, qSpanExcise,
    qTokenCount, qTokenFertility, qFingerprint, qMultimodalMeta,
    qMultimodalDecode, qResizePlan, qFrameSample, qAudioSegments, qTilePlan, qImageNeardup, qImageNeardupCounts, qMixGap,
    q9Profit, q11Stock, qKmvOverlap, qMoments, qEpochPlan, qAbLift,
    qDiversity, qZorder, qKllRollup,
    qDedupClustersSliced, qGroupSplitSliced, qDedupSurvivorsSliced, qDedupPrioSliced,
    qDedupSavingsSliced, qTrianglesSliced, qPrefixJaccardSliced, qCopurchaseSliced,
    qImageNeardupSliced)


  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap


  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin)).toMap
}
