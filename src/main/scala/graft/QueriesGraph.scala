package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** The GRAPH family (§2 rows 26d-26d4): PageRank/PPR, k-core, BFS, triangles, label propagation over the near-dup graph.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesGraph { this: Queries.type =>

  /** Integer PageRank (3 iterations, d=0.85 in exact milli-units) over
    * the simhash near-dup graph — the centrality signal for picking
    * cluster representatives / spotting template hubs. Shares the
    * materialized pair mining with the other derived dedup queries;
    * the oracle unrolls the same three integer iterations (all values
    * positive, so `div` and `//` agree).
    */
  private[graft] lazy val qPagerank = GraftQuery(
    "q_pagerank",
    (s, dir) => Relational.pageRank(simhashPairs(s, dir), "id_a", "id_b", iters = 3,
      state = Some(graphEdges(s, dir))),
    Some(s"""$simhashCcSql,
             deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
             pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr, deg FROM deg),
             c1 AS (SELECT e.b AS id, sum(pr0.pr // pr0.deg) AS s FROM e JOIN pr0 ON e.a = pr0.id GROUP BY 1),
             pr1 AS (SELECT deg.id, CAST(150000 + (850 * coalesce(c1.s, 0)) // 1000 AS BIGINT) AS pr, deg.deg AS deg
                     FROM deg LEFT JOIN c1 USING (id)),
             c2 AS (SELECT e.b AS id, sum(pr1.pr // pr1.deg) AS s FROM e JOIN pr1 ON e.a = pr1.id GROUP BY 1),
             pr2 AS (SELECT deg.id, CAST(150000 + (850 * coalesce(c2.s, 0)) // 1000 AS BIGINT) AS pr, deg.deg AS deg
                     FROM deg LEFT JOIN c2 USING (id)),
             c3 AS (SELECT e.b AS id, sum(pr2.pr // pr2.deg) AS s FROM e JOIN pr2 ON e.a = pr2.id GROUP BY 1),
             pr3 AS (SELECT deg.id, CAST(150000 + (850 * coalesce(c3.s, 0)) // 1000 AS BIGINT) AS pr
                     FROM deg LEFT JOIN c3 USING (id))
             SELECT id, pr AS pr_micro FROM pr3"""))


  /** Personalized PageRank over the near-dup graph (Jeh & Widom 2003;
    * Relational.personalizedPageRank): teleport mass restarts at the
    * deterministic id % 5 seed slice, so each doc's score is its
    * random-walk PROXIMITY TO THE SEEDS — the seed-based corpus
    * selection / weighted blast-radius member of the graph family
    * (CC converges labels, PageRank global mass, BFS min hops; PPR
    * weights BY proximity). Exact integer milli recurrence, floor
    * division at each step; oracle unrolls the same 3 iterations.
    */
  private[graft] lazy val qPprSeeds = GraftQuery(
    "q_ppr_seeds",
    (s, dir) => Relational.personalizedPageRank(simhashPairs(s, dir), "id_a", "id_b",
      col("id") % 5 === 0, iters = 3, state = Some(graphEdges(s, dir))),
    Some(s"""$simhashCcSql,
             deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
             pr0 AS (SELECT id, CAST(CASE WHEN id % 5 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS pr, deg FROM deg),
             c1 AS (SELECT e.b AS id, sum(pr0.pr // pr0.deg) AS s FROM e JOIN pr0 ON e.a = pr0.id GROUP BY 1),
             pr1 AS (SELECT deg.id, CAST(CASE WHEN deg.id % 5 = 0 THEN 150000 ELSE 0 END + (850 * coalesce(c1.s, 0)) // 1000 AS BIGINT) AS pr, deg.deg AS deg
                     FROM deg LEFT JOIN c1 USING (id)),
             c2 AS (SELECT e.b AS id, sum(pr1.pr // pr1.deg) AS s FROM e JOIN pr1 ON e.a = pr1.id GROUP BY 1),
             pr2 AS (SELECT deg.id, CAST(CASE WHEN deg.id % 5 = 0 THEN 150000 ELSE 0 END + (850 * coalesce(c2.s, 0)) // 1000 AS BIGINT) AS pr, deg.deg AS deg
                     FROM deg LEFT JOIN c2 USING (id)),
             c3 AS (SELECT e.b AS id, sum(pr2.pr // pr2.deg) AS s FROM e JOIN pr2 ON e.a = pr2.id GROUP BY 1),
             pr3 AS (SELECT deg.id, CAST(CASE WHEN deg.id % 5 = 0 THEN 150000 ELSE 0 END + (850 * coalesce(c3.s, 0)) // 1000 AS BIGINT) AS pr
                     FROM deg LEFT JOIN c3 USING (id))
             SELECT id, pr AS ppr_micro FROM pr3"""))


  /** k-core membership (k=3, Seidman 1983) of the simhash near-dup
    * graph — the dense-template-cluster detector: nodes surviving the
    * degree-≥3 peel sit in near-clique duplication structure (boiler-
    * plate families), while chains/pendants peel away; emits each core
    * node with its within-core degree. FIXED 8 peel rounds on both
    * engines (the peel is monotone, so post-convergence rounds are
    * no-ops — deterministic without a data-dependent fixpoint test).
    * Shares the materialized pair mining (`simhashPairs`) with the
    * other derived graph queries; the oracle replays the peel as a
    * recursive CTE over the same pair SQL.
    */
  private[graft] lazy val qKcore = GraftQuery(
    "q_kcore",
    (s, dir) => Relational.kCore(simhashPairs(s, dir), "id_a", "id_b", k = 3, rounds = 8,
      prebuiltSym = Some(graphSym(s, dir))),
    Some(s"""$simhashPairsSql,
             und AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
             peel(r, a, b) AS (
               SELECT 0, a, b FROM und
               UNION ALL
               (WITH kdeg AS (SELECT a AS n, count(*) AS d FROM peel GROUP BY a),
                     rr AS (SELECT max(r) AS r FROM peel)
                SELECT rr.r + 1, u.a, u.b
                FROM und u
                JOIN kdeg ka ON u.a = ka.n AND ka.d >= 3
                JOIN kdeg kb ON u.b = kb.n AND kb.d >= 3
                CROSS JOIN rr
                WHERE rr.r < 8)
             )
             SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
             FROM peel WHERE r = 8 GROUP BY a"""))


  /** Fixed-depth multi-source BFS over the near-dup graph
    * (Relational.bfsHops) — the blast-radius / contamination-spread
    * walk: given flagged seed docs (here the deterministic id % 7
    * slice of graph nodes), every doc within ≤3 near-dup hops gets
    * its minimum hop distance. This is the graph-traversal member the
    * iterative family lacked (CC converges labels, PageRank mass,
    * kCore peels — none answers "how FAR is v from the flagged set").
    * Node-space rounds like kCore: one checkpointed symmetric edge
    * list, each round one broadcast frontier probe + anti-join against
    * the labeled set; superseded checkpoints freed eagerly. The DuckDB
    * twin is a depth-bounded recursive CTE with min() collapse.
    */
  private[graft] lazy val qBfsHops = GraftQuery(
    "q_bfs_hops",
    (s, dir) => Relational.bfsHops(simhashPairs(s, dir), "id_a", "id_b",
      col("id") % 7 === 0, maxHops = 3, prebuiltSym = Some(graphSym(s, dir))),
    Some(s"""$simhashPairsSql,
             und AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
             sd AS (SELECT DISTINCT a AS id FROM und WHERE a % 7 = 0),
             walk(id, dist) AS (
               SELECT id, 0 FROM sd
               UNION
               SELECT u.b, walk.dist + 1 FROM walk JOIN und u ON u.a = walk.id
               WHERE walk.dist < 3
             )
             SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY id"""))


  /** Per-node triangle counts on the near-dup graph
    * (Relational.triangleCounts): the clustering-coefficient numerator —
    * triangle-rich components are cliques (safe to collapse to one
    * representative), triangle-free chains are drift (A~B~C with A≁C),
    * so this is the diagnostic run before trusting transitive closure.
    * Degree-ordered orientation bounds the wedge join at m^1.5; the
    * DuckDB oracle counts each id-ordered triangle (a<b<c) once via two
    * equi-joins over the exact pair set.
    */
  private[graft] lazy val qTriangles = GraftQuery(
    "q_triangles",
    (s, dir) => Relational.triangleCounts(simhashPairs(s, dir), "id_a", "id_b",
      state = Some(graphEdges(s, dir))),
    Some(s"""$simhashCcSql,
             tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                     FROM p e1
                     JOIN p e2 ON e2.id_a = e1.id_b
                     JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
             corners AS (SELECT a AS id FROM tri
                         UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri)
             SELECT id, CAST(count(*) AS BIGINT) AS n_tri
             FROM corners GROUP BY id"""))


  /** DOULION-style sampled triangle estimate (Tsourakakis et al., KDD
    * 2009) — the 100 TB answer to q_triangles' inherent m^1.5 wedge
    * bound: keep each edge independently with p = 1/2 (deterministic
    * md5 bucket of the canonical pair, zero RNG state), count
    * triangles on the sampled graph with the SAME degree-oriented
    * operator, scale by 1/p³ = 8. Sampling is a map-only filter, cuts
    * wedge work to ~p² and triangle work to ~p³; the estimator is
    * unbiased, and at production scale p drops to ~0.1 for a ~1000×
    * wedge-work cut. Exact integer arithmetic end-to-end keeps the
    * estimate oracle-checkable; SketchSpec bounds it against the exact
    * count.
    */
  private[graft] lazy val qTrianglesApprox = GraftQuery(
    "q_triangles_approx",
    (s, dir) => {
      // the sample IS stratifiedSample's deterministic md5-permille
      // rule, applied to the canonical "a:b" edge key at rate 500
      val e = Relational.stratifiedSample(
          simhashPairs(s, dir).withColumn("__ek", concat_ws(":", col("id_a"), col("id_b"))),
          "__ek", lit(500)).drop("__ek")
      val nTri = Relational.triangleCounts(e, "id_a", "id_b")
        .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("n_tri_sampled"))
      e.agg(count(lit(1)).as("n_edges_sampled")).crossJoin(nTri)
        .select(col("n_edges_sampled"), col("n_tri_sampled"),
          (col("n_tri_sampled") * 8).as("est_tri"))
    },
    Some(s"""$simhashPairsSql,
             se AS (SELECT id_a, id_b FROM p
                    WHERE ('0x' || substr(md5(id_a || ':' || id_b), 1, 15))::BIGINT % 1000 < 500),
             tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                     FROM se e1
                     JOIN se e2 ON e2.id_a = e1.id_b
                     JOIN se e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
             SELECT (SELECT CAST(count(*) AS BIGINT) FROM se) AS n_edges_sampled,
               CAST(count(*) AS BIGINT) AS n_tri_sampled,
               CAST(count(*) * 8 AS BIGINT) AS est_tri
             FROM tri"""))


  /** Majority-label-propagation communities (Raghavan et al. 2007;
    * Relational.labelPropagation, 3 synchronous rounds, min-label
    * ties) over the near-dup graph, each community reported with its
    * exact-integer MODULARITY contribution (Newman 2004): contrib =
    * 4m·e_c − d_c², i.e. the numerator of Q = Σ_c (e_c/m − (d_c/2m)²)
    * scaled by 4m² — no division, so both engines agree bit-for-bit.
    * This answers the question CC can't: q_dedup_clusters says WHAT is
    * transitively connected; LPA + modularity says whether a cluster
    * is one dense boilerplate family (high contrib) or several
    * communities chained by weak bridges (the "should I really
    * collapse this to one survivor?" diagnostic before dedup commits).
    * Scale shape: 3 fixed rounds over the checkpointed symmetric edge
    * list (src-keyed join + (dst,label) partial agg + struct-max
    * argmax per round — never a rank window), then the stats are two
    * label-keyed partial aggs over node- and pair-sized frames; the
    * single-row edge total attaches as a broadcast scalar.
    */
  private[graft] lazy val qLabelProp = GraftQuery(
    "q_label_prop",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      // node-sized result of the 3-round loop, referenced three times
      // below (degree join + both endpoint attaches) — memoized (and
      // checkpointed) once per (session, dir) via lpaState, so repeated
      // invocations neither re-run the loop nor leak checkpoint blocks
      // (see SessionMemo). Degrees read the loop's own checkpointed
      // symmetric edge list instead of re-deriving the union+distinct
      // exchange.
      val (labels, edges) = lpaState(s, dir)
      val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("__deg"))
      val m = pairs.agg(count(lit(1)).as("__m"))
      val ein = pairs
        .join(labels.select(col("id").as("__ia"), col("community").as("__ca")),
          col("id_a") === col("__ia"))
        .join(labels.select(col("id").as("__ib"), col("community").as("__cb")),
          col("id_b") === col("__ib"))
        .filter(col("__ca") === col("__cb"))
        .groupBy(col("__ca").as("community")).agg(count(lit(1)).as("__ein"))
      labels.join(deg, Seq("id"))
        .groupBy("community")
        .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("d_sum"))
        .join(ein, Seq("community"), "left")
        .crossJoin(m)
        .select(col("community"), col("n_nodes"),
          coalesce(col("__ein"), lit(0L)).as("e_in"), col("d_sum"),
          (lit(4L) * col("__m") * coalesce(col("__ein"), lit(0L)) -
            col("d_sum") * col("d_sum")).as("contrib"))
    },
    Some(s"""$simhashCcSql,
             l0 AS (SELECT DISTINCT a AS id, a AS lab FROM e),
             v1 AS (SELECT e.b AS id, l.lab, count(*) AS cnt FROM e JOIN l0 l ON e.a = l.id GROUP BY 1, 2),
             l1 AS (SELECT id, lab FROM (SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab) AS rn FROM v1) WHERE rn = 1),
             v2 AS (SELECT e.b AS id, l.lab, count(*) AS cnt FROM e JOIN l1 l ON e.a = l.id GROUP BY 1, 2),
             l2 AS (SELECT id, lab FROM (SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab) AS rn FROM v2) WHERE rn = 1),
             v3 AS (SELECT e.b AS id, l.lab, count(*) AS cnt FROM e JOIN l2 l ON e.a = l.id GROUP BY 1, 2),
             l3 AS (SELECT id, lab FROM (SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab) AS rn FROM v3) WHERE rn = 1),
             deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
             mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
             ein AS (SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS e_in
                     FROM p JOIN l3 la ON p.id_a = la.id JOIN l3 lb ON p.id_b = lb.id
                     WHERE la.lab = lb.lab GROUP BY 1),
             ds AS (SELECT l3.lab AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(sum(deg.deg) AS BIGINT) AS d_sum
                    FROM l3 JOIN deg USING (id) GROUP BY 1)
             SELECT ds.community, ds.n_nodes, coalesce(ein.e_in, 0) AS e_in, ds.d_sum,
               CAST(4 * mm.m * coalesce(ein.e_in, 0) - ds.d_sum * ds.d_sum AS BIGINT) AS contrib
             FROM ds LEFT JOIN ein USING (community) CROSS JOIN mm"""))

}
