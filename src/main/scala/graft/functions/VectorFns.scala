package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Iterate

/** Vector similarity over embedding columns (Array[Float]).
  *
  * Portability note (SURVEY.md §4): scores used in cross-engine-checked
  * queries are *integer* dot products over milli-quantized components
  * (floor(x*1000)) — exact and associative, so ranking is bit-stable in
  * any engine. Float cosine variants are provided for real use where an
  * oracle isn't in the loop.
  */
object VectorFns {
  import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}

  /** Quantize a float vector to integer milli-units: floor(x*1000). */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  // Native kernels (graft.plans.VectorExprs) — value-identical to the
  // declarative forms above/below, ~100× faster than interpreted HOFs.
  def quantizeFast(v: Column): Column = toCol(graft.plans.QuantizeVec(toExpr(v)))
  def qdotFast(a: Column, b: Column): Column = toCol(graft.plans.QDot(toExpr(a), toExpr(b)))

  /** Mergeable top-k aggregation column: the k best (score, id) pairs
    * under (score DESC, id ASC) as array<struct<score,id>> best-first —
    * the shuffle-light replacement for a rank window over an expanded
    * candidate frame (see plans/TopKExprs.scala). For ascending metrics
    * negate the score.
    */
  def topKPairs(score: Column, id: Column, k: Int): Column =
    toCol(graft.plans.TopKPairsAgg(toExpr(score), toExpr(id), k).toAggregateExpression())
  def lshBucketsFast(qv: Column, tables: Int, planes: Int): Column =
    toCol(graft.plans.LshBucketsExpr(toExpr(qv), tables, planes))
  def outerMomentsFast(qv: Column): Column =
    toCol(graft.plans.OuterMoments(toExpr(qv)))

  /** Exact integer dot product of two quantized vectors. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, p) => s + p)

  /** Float dot product / norms / cosine for production similarity. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, p) => s + p)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k neighbors of `queries` within `corpus` by
    * quantized dot product (valid cosine proxy for unit vectors).
    * The query set is broadcast; the corpus is scanned once — the
    * correctness baseline ANN. Rank ties break on neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), qdotFast(col("qv"), col("cv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Signed projection of a pre-quantized vector onto hyperplane
    * (table, plane): weights `((t*131 + j*37 + d*17) mod 21) - 10` — a
    * fixed integer formula, so the bucket is engine-portable. Table 0
    * reproduces the original single-table formula.
    */
  private def planeDot(qv: Column, table: Int, plane: Int, dims: Int): Column =
    aggregate(
      zip_with(qv, sequence(lit(0), lit(dims - 1)),
        (x, d) => x * ((lit(table * 131 + plane * 37) + d * 17) % 21 - 10)),
      lit(0L), (s, p) => s + p)

  /** 8-bit LSH bucket id for one hash table over a pre-quantized vector.
    * Built as a flat sum of per-plane terms — each term references `qv`
    * lexically, which keeps CollapseProject from inlining the quantize
    * tree and re-evaluating it per plane (higher-order functions are
    * interpreted; see DedupFns.minhashBandArray).
    */
  def lshBucketFor(qv: Column, table: Int, planes: Int = 8, dims: Int = 64): Column =
    (0 until planes).map { j =>
      when(planeDot(qv, table, j, dims) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Single-table bucket over a raw float vector (original API). */
  def lshBucket(v: Column, planes: Int = 8, dims: Int = 64): Column =
    lshBucketFor(quantize(v), 0, planes, dims)

  /** All `tables` bucket ids as an array — multiple independent hash
    * tables are the standard LSH recall lever: a true neighbor is found
    * if ANY table buckets it with the query.
    */
  def lshBuckets(qv: Column, tables: Int, planes: Int = 8, dims: Int = 64): Column =
    array((0 until tables).map(t => lshBucketFor(qv, t, planes, dims)): _*)

  /** Bucketed ANN: only score pairs sharing an LSH bucket in at least
    * one of `tables` hash tables, then exact top-k re-rank. Same output
    * shape as bruteForceTopK but shuffle-bounded — at 100 TB the bucket
    * equi-join replaces the full cross product; more tables buy recall
    * for a linear increase in candidate volume.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      tables: Int = 8, planes: Int = 4): DataFrame = {
    // Fences: quantize and the bucket array evaluate once per row (see
    // functions.Fence — inferred generate predicates otherwise
    // recompute them per row)
    def withBuckets(df: DataFrame, id: String, vec: String) =
      Fence.guard(Fence.guard(
          df.select(col(idCol).as(id), quantizeFast(col(vecCol)).as(vec)))
        .select(col(id), col(vec),
          lshBucketsFast(col(vec), tables, planes).as("__bks")))
        .select(col(id), col(vec),
          posexplode(col("__bks")).as(Seq("tbl", "bucket")))
    val q = withBuckets(queries, "query_id", "qv")
    val c = withBuckets(corpus, "neighbor_id", "cv")
    val scored = q.join(c, Seq("tbl", "bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), qdotFast(col("qv"), col("cv")).as("score"))
      .groupBy("query_id", "neighbor_id").agg(max("score").as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF probe list over a pre-quantized vector: indexes of the
    * `nprobe` nearest centroids (exact integer L2, index tiebreak).
    * `centroids` must be a literal array<array<bigint>> column.
    */
  def ivfProbesFast(qv: Column, centroids: Column, nprobe: Int): Column =
    toCol(graft.plans.IvfProbesExpr(toExpr(qv), toExpr(centroids), nprobe))

  /** Deterministic IVF centroid selection: the `k` corpus vectors with
    * the smallest (md5(id), id) — a seeded pseudo-random sample, i.e. a
    * k-means|| style init without the refinement sweeps. At scale this
    * is a TakeOrderedAndProject (no full sort) collecting only k tiny
    * vectors to the driver; a production k-means refinement would
    * iterate assign+mean as Spark jobs from exactly this init.
    */
  /** The √n centroid-count rule (SemDeDup / IVF practice): k = ⌈√n⌉
    * makes the EXPECTED cell size n/k ≈ √n, so the within-cell pair
    * work stays O(n·√n) total instead of O(n²). Engine-portable: both
    * Spark and DuckDB evaluate ceil(sqrt(n)) in IEEE double.
    */
  def autoCentroidCount(n: Long): Int =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Row count of `df`, memoized per session and analyzed CANONICALIZED
    * plan (structural equality, so every read of the same table — or
    * the same derived frame — hits the same entry). Auto-sizing rules
    * (autoPlanes / autoCentroidCount, Relational.autoPrefixChars) need
    * n at DataFrame-CONSTRUCTION time; an uncached eager count() would
    * bill a full input scan to every plan-only path — Explain,
    * PlanSpec's optimizedPlan, repeated query construction — once per
    * call. Same discipline as Queries.tableCount.
    */
  private[graft] def memoCount(df: DataFrame): Long =
    graft.SessionMemo.scalar("count.plan", Some(df.sparkSession),
      df.queryExecution.analyzed.canonicalized)(df.count())

  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Seq[Long]] =
    corpus
      .select(quantizeFast(col(vecCol)).as("qv"), col(idCol).cast("string").as("id"))
      // a null / null-element corpus vector (quantize propagates null)
      // must not poison the centroid literal
      .filter(col("qv").isNotNull)
      .orderBy(md5(col("id")), col("id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Long](0))
      .toSeq

  /** IVF-bucketed ANN: corpus vectors are assigned to their single
    * nearest centroid, queries probe their `nprobe` nearest, and only
    * pairs meeting in a probed cell are scored exactly — the classic
    * inverted-file shape. Both assignments are MAP-ONLY projections
    * (the centroid list rides inside the plan as a literal), so the
    * only shuffle is the candidate equi-join on the centroid id.
    * Recall grows with nprobe at linearly-bounded candidate volume;
    * AnnRecallSpec measures it against bruteForceTopK.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      kCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = typedLit(ivfCentroids(corpus, idCol, vecCol, kCentroids))
    // Fences: quantize + centroid assignment evaluate once per row (the
    // cid join key otherwise gets an inferred isnotnull that re-runs
    // the whole probe computation — see functions.Fence)
    val c = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv")))
      .select(col("neighbor_id"), col("cv"),
        element_at(ivfProbesFast(col("cv"), cents, 1), 1).as("cid")))
    val q = Fence.guard(Fence.guard(
        queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("query_id"), col("qv"),
        ivfProbesFast(col("qv"), cents, nprobe).as("__probes")))
      .select(col("query_id"), col("qv"), explode(col("__probes")).as("cid"))
    val scored = q.join(c, Seq("cid")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), qdotFast(col("qv"), col("cv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The IVF OPERATING CURVE as data (round 17 — VERDICT r16 item 6):
    * recall@k vs nprobe, the tuning knob a production ANN deployment
    * actually turns (probe more cells → higher recall, more candidate
    * work). One row per nprobe: (nprobe, hits, n_queries,
    * recall_milli = hits·1000 div (k·n_queries)) — exact integers, so
    * the whole curve hash-checks.
    *
    * Shape: the corpus is ASSIGNED ONCE and the queries probe once at
    * max(nprobes); each candidate carries the RANK of its probed cell
    * in the query's probe order, so "the index at nprobe = p" is a
    * filter (probe rank ≤ p) on one shared candidate frame — 4 curve
    * points cost one assignment pass + one candidate join, not 4 of
    * each (the naive per-p loop re-scans the corpus per point). Top-k
    * re-ranks per (query, nprobe) AFTER the filter, exactly what
    * ivfTopK(nprobe = p) would keep — AnnRecallSpec pins that
    * per-point equivalence. Queries with an empty probed cell still
    * count in the denominator (the LEFT join from the exact side).
    */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, kCentroids: Int = 16, nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), s"nprobes must be >= 1: $nprobes")
    val maxP = math.min(nprobes.max, kCentroids)
    val cents = typedLit(ivfCentroids(corpus, idCol, vecCol, kCentroids))
    val c = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv")))
      .select(col("neighbor_id"), col("cv"),
        element_at(ivfProbesFast(col("cv"), cents, 1), 1).as("cid")))
    val q = Fence.guard(Fence.guard(
        queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("query_id"), col("qv"),
        ivfProbesFast(col("qv"), cents, maxP).as("__probes")))
      .select(col("query_id"), col("qv"), posexplode(col("__probes")).as(Seq("__pr0", "cid")))
      .select(col("query_id"), col("qv"), (col("__pr0") + 1).cast("long").as("__pr"), col("cid"))
    val pArr = typedLit(nprobes.map(_.toLong))
    val approxK = q.join(c, Seq("cid")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__pr"), col("neighbor_id"),
        qdotFast(col("qv"), col("cv")).as("score"))
      .withColumn("__p", explode(pArr))
      .filter(col("__pr") <= col("__p"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id", "__p").orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("__p"), col("query_id").as("__q"), col("neighbor_id").as("__n"))
    val exact = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("nprobe", explode(pArr))
    exact.join(broadcast(approxK),
        exact("nprobe") === approxK("__p") &&
          exact("query_id") === approxK("__q") &&
          exact("neighbor_id") === approxK("__n"),
        "left")
      .groupBy(col("nprobe"))
      .agg(count(col("__n")).as("hits"),
        countDistinct(col("query_id")).as("n_queries"))
      .withColumn("recall_milli", expr(s"hits * 1000 div ($k * n_queries)"))
  }

  /** TWO-LEVEL IVF top-k — the production-scale variant of [[ivfTopK]]
    * for large centroid counts (k = ⌈√n⌉ at production n means k ≈ 10⁵:
    * a single-level centroid list embedded as a plan literal would put
    * ~6.4M longs in every plan and charge every row an O(k·d) probe
    * scan). Structure:
    *
    *  - k1 = ⌈√k⌉ COARSE centroids ride as the plan literal (√k keeps
    *    the literal kilobytes at any realistic k) — they are the FIRST
    *    k1 of the deterministic (md5(id), id) sample, so the coarse set
    *    nests inside the fine set by construction;
    *  - the k FINE centroids ride as a BROADCAST RELATION
    *    (fcid, ccid, fv, fnrm), each pre-assigned to its nearest coarse
    *    cell — no driver collect of the fine set, no plan literal;
    *  - corpus rows probe `assignProbes` coarse cells (map-only, O(k1·d))
    *    and resolve their fine cell among ONLY those cells' fine
    *    centroids via a broadcast equi-join on ccid + an argmin
    *    aggregate (min_by on exact integer L2, fcid tiebreak) — O(k/k1·d)
    *    expected per row instead of O(k·d);
    *  - queries probe `coarseProbes` coarse cells, rank the fine
    *    centroids inside them, and keep `nprobe`; candidates then meet
    *    in a plain equi-join on fcid exactly as single-level IVF.
    *
    * With assignProbes = coarseProbes = k1 every coarse cell is probed,
    * the fine argmin ranges over ALL fine centroids, and the output is
    * IDENTICAL to [[ivfTopK]] — AnnRecallSpec pins that equivalence and
    * measures the recall of the truncated (scale) settings. Exact
    * integer L2 throughout: d² = ‖x‖² + ‖y‖² − 2x·y from the quantized
    * dot kernel, so the result is deterministic and engine-portable.
    */
  def ivfTopK2(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      kCentroids: Int = 1024, nprobe: Int = 8, coarseProbes: Int = 4,
      assignProbes: Int = 1): DataFrame = {
    val k1 = math.max(1, math.ceil(math.sqrt(kCentroids.toDouble)).toInt)
    val coarse = typedLit(ivfCentroids(corpus, idCol, vecCol, k1))
    // fine sample as a RELATION: k rows funnel through
    // TakeOrderedAndProject (no full sort, no driver round-trip); fcid
    // = rank in the sample order. The rank window sorts k rows in one
    // task — bounded by the centroid count, never the corpus.
    val sampled = corpus
      .select(quantizeFast(col(vecCol)).as("fv"), col(idCol).cast("string").as("__sid"))
      .filter(col("fv").isNotNull)
      .orderBy(md5(col("__sid")), col("__sid"))
      .limit(kCentroids)
    val fineRel = sampled
      .withColumn("fcid", row_number().over(
        Window.orderBy(md5(col("__sid")), col("__sid"))).cast("long") - 1)
      .select(col("fcid"), col("fv"), qdotFast(col("fv"), col("fv")).as("fnrm"),
        element_at(ivfProbesFast(col("fv"), coarse, 1), 1).as("ccid"))
    def d2(nrm: Column, vec: Column, other: Column, onrm: Column): Column =
      nrm + onrm - lit(2L) * qdotFast(vec, other)
    // corpus side: coarse probe (map-only) → fine argmin within probed
    // cells. min_by keys on (d², fcid) so ties are deterministic; both
    // aggregates share the key, so fcid and the carried vector always
    // come from the same winning row.
    val cRows = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv")))
      .filter(col("cv").isNotNull)
      .select(col("neighbor_id"), col("cv"), qdotFast(col("cv"), col("cv")).as("cnrm"),
        ivfProbesFast(col("cv"), coarse, assignProbes).as("__cps")))
      .select(col("neighbor_id"), col("cv"), col("cnrm"), explode(col("__cps")).as("ccid"))
    val asg = cRows.join(broadcast(fineRel), "ccid")
      .select(col("neighbor_id"), col("cv"),
        struct(d2(col("cnrm"), col("cv"), col("fv"), col("fnrm")).as("d"),
          col("fcid").as("f")).as("__key"))
      .groupBy("neighbor_id")
      .agg(min_by(struct(col("__key.f").as("fcid"), col("cv").as("cv")), col("__key")).as("__w"))
      .select(col("neighbor_id"), col("__w.fcid").as("fcid"), col("__w.cv").as("cv"))
    // query side: coarse probe → rank fine centroids in probed cells →
    // keep nprobe (the window spans coarseProbes·k/k1 rows per query)
    val qRows = Fence.guard(Fence.guard(
        queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
      .filter(col("qv").isNotNull)
      .select(col("query_id"), col("qv"), qdotFast(col("qv"), col("qv")).as("qnrm"),
        ivfProbesFast(col("qv"), coarse, coarseProbes).as("__qps")))
      .select(col("query_id"), col("qv"), col("qnrm"), explode(col("__qps")).as("ccid"))
    // nearest-nprobe cells per query via the mergeable top-k aggregate
    // (negated distance: (-d DESC, fcid ASC) == (d ASC, fcid ASC)) —
    // map-side ≤nprobe-entry partials instead of a rank-window SORT of
    // the (queries × coarseProbes·k/k₁) probe frame. first(qv) is
    // deterministic here: qv is a pure function of query_id, constant
    // within the group.
    val probes = qRows.join(broadcast(fineRel), "ccid")
      .select(col("query_id"), col("qv"),
        d2(col("qnrm"), col("qv"), col("fv"), col("fnrm")).as("__qd"), col("fcid"))
      .groupBy("query_id")
      .agg(first(col("qv")).as("qv"),
        topKPairs(-col("__qd"), col("fcid"), nprobe).as("__np"))
      .select(col("query_id"), col("qv"), explode(col("__np.id")).as("fcid"))
    val scored = probes.join(asg, Seq("fcid")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), qdotFast(col("qv"), col("cv")).as("score"))
    // final top-k per query: the same aggregate over the n·nprobe·(n/k)
    // candidate frame — the shape whose rank-window sort the q_knn_hubs
    // stage ledger measured at ~10 GB spill per run at sf10. Bit-equal
    // to the window form (total order, merge-schedule independent);
    // rank = 1 + position in the best-first array.
    scored.groupBy("query_id")
      .agg(topKPairs(col("score"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** One Lloyd iteration of k-means over quantized vectors in EXACT
    * integer arithmetic — the refinement step a production pipeline
    * runs from the deterministic `ivfCentroids` init before building
    * the IVF index. Per centroid: member count, the per-dimension
    * floor-mean checksum, and the total L1 shift vs the old centroid
    * (the convergence signal).
    *
    * Scale shape: assignment is MAP-ONLY (centroids ride in the plan as
    * a literal via plans.IvfProbesExpr — no join, no shuffle); the
    * per-dimension recompute posexplodes to rows×dims but partial
    * aggregation collapses each task's shuffle payload to ≤ k×dims
    * partials, so the shuffle carries kilobytes regardless of corpus
    * size. Engine portability: the mean uses explicit floor division
    * `(s - pmod(s, n)) div n` because Spark's `div` truncates toward
    * zero while DuckDB's `//` floors — they diverge on negative sums.
    */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 16): DataFrame = {
    val cents = typedLit(ivfCentroids(corpus, idCol, vecCol, kCentroids))
    val assigned = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("id"), quantizeFast(col(vecCol)).as("qv")))
      .filter(col("qv").isNotNull)
      .select(col("id"), col("qv"),
        element_at(ivfProbesFast(col("qv"), cents, 1), 1).as("cid")))
    val sums = assigned
      .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("mv", expr("(s - ((s % n + n) % n)) div n"))
      .withColumn("old_v",
        element_at(element_at(cents, col("cid").cast("int") + 1), col("dim").cast("int") + 1))
    sums.groupBy("cid")
      .agg(max(col("n")).as("n_members"),
        sum(col("mv")).as("mean_sum"),
        sum(abs(col("mv") - col("old_v"))).as("shift_l1"))
      .select(col("cid").cast("long").as("cid"), col("n_members"),
        col("mean_sum"), col("shift_l1"))
  }

  /** FIXED-round Lloyd k-means TRAINING loop (Lloyd 1982) — the
    * iterated completion of [[kmeansStep]]'s single refinement, the
    * way the BPE merge loop completes the single pair-count step:
    * start from the deterministic [[ivfCentroids]] sample, then
    * `rounds` rounds of (map-only nearest-centroid assignment against
    * the plan-literal centroid table → per-(cluster, dim) partial-agg
    * means in exact floored integer arithmetic → BOUNDED k·d driver
    * collect of the new table, empty clusters keeping their previous
    * position). Returns the final assignment's per-cluster membership
    * and EXACT integer inertia (Σ L2² to the trained centroid — the
    * convergence number a training loop monitors). Scale shape per
    * round: one corpus scan + one (cid, dim) exchange that map-side-
    * combines to ≤ k·d rows per partition; the collect is k·d longs
    * (16×64 here — the ivfCentroids precedent), never corpus-sized.
    */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 16, rounds: Int = 3): DataFrame = {
    // Production-k auto-route (VERDICT r14 item 3): past ~1024
    // centroids (0.5 MB of state at d=64) the per-round k·d driver
    // collect + plan-literal re-ship this loop runs becomes the
    // bottleneck ivfTopK2 was built to remove — the relation-state
    // loop takes over (bit-identical at full probing, Round15OpsSpec).
    // Below it the literal loop is optimal: one collect job per round
    // vs the relation path's means+checkpoint jobs, and the state is
    // kilobytes. Same threshold family as ivfTopK2's default 1024.
    if (kCentroids > 1024)
      return kmeansTrain2(corpus, idCol, vecCol, kCentroids, rounds)
    // a corpus smaller than kCentroids yields a shorter table, exactly
    // like kmeansStep's literal (cents.length, not kCentroids, sizes
    // everything below)
    var cents: Seq[Seq[Long]] = ivfCentroids(corpus, idCol, vecCol, kCentroids)
    // Fence pins quantize to ONE evaluation per row: unfenced, the
    // isNotNull pushdown substitutes the kernel into the filter below
    // the projection and every round's scan pays it twice (the
    // kmeansStep/ivfTopK precedent)
    val q = Fence.guard(
        corpus.select(quantizeFast(col(vecCol)).as("qv")))
      .filter(col("qv").isNotNull)
    if (cents.isEmpty)
      return q.limit(0).select(lit(0L).as("cid"),
        lit(0L).as("n_members"), lit(0L).as("inertia"))
    var r = 0
    while (r < rounds) {
      val cl = typedLit(cents)
      val rows = q
        .select(element_at(ivfProbesFast(col("qv"), cl, 1), 1).as("cid"), col("qv"))
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("mv", expr("(s - ((s % n + n) % n)) div n"))
        .select(col("cid").cast("int"), col("dim"), col("mv"))
        .collect()
      val next = Array.tabulate(cents.length)(i => cents(i).toArray.clone())
      rows.foreach(row => next(row.getInt(0))(row.getInt(1)) = row.getLong(2))
      cents = next.map(_.toSeq)
      r += 1
    }
    val cl = typedLit(cents)
    val cvec = element_at(cl, (col("cid") + 1).cast("int"))
    q.select(element_at(ivfProbesFast(col("qv"), cl, 1), 1).as("cid"), col("qv"))
      .withColumn("__d", vecSubFast(col("qv"), cvec))
      .withColumn("__d2", qdotFast(col("__d"), col("__d")))
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("__d2")).as("inertia"))
  }

  /** TWO-LEVEL / relation-state Lloyd k-means training —
    * [[kmeansTrain]] with the per-round centroid state UNSHIPPED from
    * the driver and the plan (the VERDICT r14 watch-item):
    * [[kmeansTrain]] collects k·d longs to the driver EVERY round and
    * re-ships them as a plan literal (~50 MB per round at the
    * production rule k = ⌈√n⌉ ≈ 10⁵, d = 64 — exactly the
    * plan-literal bottleneck [[ivfTopK2]] removed from search). Here
    * the fine centroids live as a checkpointed k-row RELATION
    * (fcid, fv) — no driver collect, no k·d literal; a probing loop
    * under [[graft.operators.Iterate.probe]] cuts it every round and
    * frees the superseded round at once — and assignment has two
    * shapes:
    *
    *  - `assignProbes = 0` (default — FULL assignment): the relation
    *    aggregates into a ONE-ROW array<array> frame (fcid order)
    *    that crossJoin(broadcast)-attaches to the corpus, and every
    *    row runs the SAME IvfProbesExpr kernel as the literal loop on
    *    the attached column — map-only, zero corpus shuffles, and
    *    BIT-IDENTICAL to [[kmeansTrain]] by construction (same
    *    kernel, same table, Round15OpsSpec pins it). The broadcast
    *    carries the k·d longs as DATA (one copy per executor), never
    *    as plan text; q_kmeans_train runs this path under the
    *    unchanged oracle.
    *  - `assignProbes > 0` (TRUNCATED — the huge-k path): k1 = ⌈√k⌉
    *    coarse centroids ride as the kilobyte plan literal (fixed
    *    across rounds, routing only), corpus rows probe that many
    *    coarse cells, meet the fine relation on a broadcast equi-join
    *    on the fine centroids' own cell assignment, and argmin via
    *    min_by on the exact-integer (d², fcid) struct — per-row cost
    *    O(assignProbes·k/k1·d) instead of O(k·d), the approximate
    *    Lloyd rounds production IVF builds actually run.
    *
    * The mean update is the same floored-integer (cid, dim) partial
    * aggregate either way, regrouped into the next k-row relation
    * with a broadcast join (empty clusters keep their position via
    * coalesce) — bounded by k·d rows IN THE CLUSTER, never on the
    * driver.
    */
  def kmeansTrain2(corpus: DataFrame, idCol: String, vecCol: String,
      kCentroids: Int = 16, rounds: Int = 3, assignProbes: Int = 0): DataFrame = {
    val k1 = math.max(1, math.ceil(math.sqrt(kCentroids.toDouble)).toInt)
    val q = Fence.guard(
        corpus.select(col(idCol).cast("string").as("__id"),
          quantizeFast(col(vecCol)).as("qv")))
      .filter(col("qv").isNotNull)
    // initial fine relation: the SAME deterministic (md5(id), id) sample
    // as ivfCentroids(k), fcid = position in sample order — funneled
    // through TakeOrderedAndProject, never a full sort; k rows total
    val fine0 = corpus
      .select(quantizeFast(col(vecCol)).as("fv"), col(idCol).cast("string").as("__sid"))
      .filter(col("fv").isNotNull)
      .orderBy(md5(col("__sid")), col("__sid"))
      .limit(kCentroids)
      .withColumn("fcid", row_number().over(
        Window.orderBy(md5(col("__sid")), col("__sid"))).cast("long") - 1)
      .select(col("fcid"), col("fv"))
    // the relation as a one-row array frame, fcid order — k·d longs of
    // broadcast DATA standing where kmeansTrain puts a plan literal
    def arr1(fineRel: DataFrame): DataFrame =
      fineRel.agg(transform(array_sort(collect_list(struct(col("fcid"), col("fv")))),
        x => x.getField("fv")).as("__cents"))
    // FULL assignment: attach the array, run the literal loop's exact
    // kernel on it — (cid, qv) map-only, cid = fcid by construction
    // (fcid is contiguous 0..k'-1 and the array is fcid-ordered)
    def assignFull(fineRel: DataFrame): DataFrame =
      Fence.guard(q.crossJoin(broadcast(arr1(fineRel)))
          .select(element_at(ivfProbesFast(col("qv"), col("__cents"), 1), 1).as("cid"),
            col("qv"), col("__cents")))
        .select(col("cid"), col("qv"), col("__cents"))
    // TRUNCATED assignment: coarse-probe routing + broadcast equi-join
    // + min_by argmin on the exact (d², fcid) struct (IvfProbesExpr's
    // metric and tiebreak)
    lazy val coarse = typedLit(ivfCentroids(corpus, idCol, vecCol, k1))
    def assignTrunc(fineRel: DataFrame, probes: Int): DataFrame = {
      val cells = broadcast(
        fineRel.withColumn("ccid", element_at(ivfProbesFast(col("fv"), coarse, 1), 1)))
      val rows = Fence.guard(q.select(col("__id"), col("qv"),
          qdotFast(col("qv"), col("qv")).as("__qn"),
          ivfProbesFast(col("qv"), coarse, probes).as("__cps")))
        .select(col("__id"), col("qv"), col("__qn"), explode(col("__cps")).as("ccid"))
      rows.join(cells, "ccid")
        .select(col("__id"), col("qv"),
          struct((col("__qn") + qdotFast(col("fv"), col("fv")) -
            lit(2L) * qdotFast(col("qv"), col("fv"))).as("d"), col("fcid").as("f")).as("__key"))
        .groupBy("__id")
        .agg(min_by(struct(col("__key.f").as("cid"), col("__key.d").as("d2"),
          col("qv").as("qv")), col("__key")).as("__w"))
        .select(col("__w.cid").as("cid"), col("__w.d2").as("d2"), col("__w.qv").as("qv"))
    }
    def assigned(fineRel: DataFrame): DataFrame =
      if (assignProbes <= 0) assignFull(fineRel).select(col("cid"), col("qv"))
      else assignTrunc(fineRel, math.min(assignProbes, k1)).select(col("cid"), col("qv"))
    // one corpus count, reused by every round's guard and the final one
    val corpusN = if (assignProbes > 0) q.count() else -1L
    Iterate.probe(fine0, rounds) { (fine, round) =>
      val perDim0 = assigned(fine)
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("mv", expr("(s - ((s % n + n) % n)) div n"))
      // PER-ROUND row-loss guard (ADVICE r16): the final-assignment
      // guard below cannot see THIS round's membership — fine centroids
      // move between rounds, so a row can silently drop out of a
      // round's means (biasing the centroids) yet still reach a
      // centroid in the final pass. Cutting the k·d per-dim frame for
      // the round makes the coverage read free of a second assignment
      // join; n at dim 0 counts every row the round's means saw.
      val perDim = if (assignProbes > 0) round.cut(perDim0) else perDim0
      if (assignProbes > 0) {
        val aRow = perDim.filter(col("dim") === 0).agg(sum(col("n"))).collect()(0)
        val sawN = if (aRow.isNullAt(0)) 0L else aRow.getLong(0)
        require(sawN == corpusN,
          s"kmeansTrain2(assignProbes=$assignProbes): round ${round.index - 1} means saw only " +
            s"$sawN of $corpusN corpus rows — some rows' probed coarse cells contain no fine " +
            "centroid THIS round, so they were silently dropped from the round's means. " +
            "Raise assignProbes or use assignProbes=0 (full assignment).")
      }
      val means = perDim
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
          x => x.getField("mv")).as("nv"))
      fine
        .join(broadcast(means), fine("fcid") === means("cid"), "left")
        .select(col("fcid"), coalesce(col("nv"), col("fv")).as("fv"))
    } { run =>
      val fine = run.state
      // final assignment + exact integer inertia — the literal loop's
      // own final block, with the attached array standing in for the
      // literal (full path); the truncated path already carries d².
      // An empty corpus leaves the k-row relation empty every round.
      if (fine.isEmpty)
        q.limit(0).select(lit(0L).as("cid"), lit(0L).as("n_members"), lit(0L).as("inertia"))
      else if (assignProbes <= 0) {
        val cvec = element_at(col("__cents"), (col("cid") + 1).cast("int"))
        assignFull(fine)
          .withColumn("__d", vecSubFast(col("qv"), cvec))
          .withColumn("__d2", qdotFast(col("__d"), col("__d")))
          .groupBy(col("cid").cast("long").as("cid"))
          .agg(count(lit(1)).as("n_members"), sum(col("__d2")).as("inertia"))
      } else {
        val res = assignTrunc(fine, math.min(assignProbes, k1))
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
          .localCheckpoint(true)
        // ROW-LOSS guard (ADVICE r15; per-round twin above — ADVICE r16):
        // the truncated path's routing join (corpus rows meet fine
        // centroids THROUGH their probed coarse cells) is inner — a row
        // whose probed cells contain zero fine centroids silently
        // vanishes from the means and from these totals, which is row
        // LOSS, not approximation. Same medicine as the pcaPower
        // ragged-corpus guard: compare assigned coverage to the corpus
        // (counted once, above the loop) on the k-row final frame and
        // fail loudly with the fix (more probes, or the full-assignment
        // path, which is structurally complete).
        val aRow = res.agg(sum(col("n_members"))).collect()(0)
        val assignedN = if (aRow.isNullAt(0)) 0L else aRow.getLong(0)
        require(assignedN == corpusN,
          s"kmeansTrain2(assignProbes=$assignProbes): only $assignedN of $corpusN corpus " +
            "rows reached a fine centroid — some rows' probed coarse cells contain no " +
            "fine centroid, so they were silently DROPPED from training and the totals. " +
            "Raise assignProbes (cells probed per row) or use assignProbes=0 (full " +
            "assignment, structurally complete).")
        res
      }
    }._1
  }

  /** Top principal direction of the embedding corpus by FIXED-round
    * power iteration (von Mises & Pollaczek-Geiringer 1929; the first
    * factor of a distributed PCA) in EXACT integer arithmetic:
    * the d(d+1)/2 second-moment sufficient statistics aggregate in one
    * map-side-combined pass (the same `outerMoments` kernel as the
    * gram query — the exchange carries ≤ tri+d rows per partition
    * regardless of corpus size), collect BOUNDED to the driver (d=64 →
    * 2,080 longs — the documented driver cost of a spectral index
    * build, exactly like [[ivfCentroids]]), normalize to the mean
    * outer product M = ⌊Σxxᵀ/n⌋ (entries ≤ 10⁶ for unit-norm milli
    * vectors — n-independent, so the iteration below can never
    * overflow at ANY corpus size), then `iters` rounds of
    * x ← ⌊(M·x)·1000 / max|M·x|⌋ with FLOOR division at every step so
    * any engine replays the walk bit-for-bit. Returns the milli-scaled
    * direction (‖x‖∞ = 1000, sign fixed by the iteration itself —
    * deterministic because every step is).
    */
  def pcaPower(corpus: DataFrame, vecCol: String,
      dims: Int = 64, iters: Int = 4): Seq[Long] = {
    val tri = dims * (dims + 1) / 2
    val rows = corpus
      .select(posexplode(outerMomentsFast(quantizeFast(col(vecCol))))
        .as(Seq("__pos", "__m")))
      .groupBy(col("__pos"))
      .agg(count(lit(1)).as("__n"), sum(col("__m")).as("__s"))
      .filter(col("__pos") < tri)
      .collect()
    // empty (or all-null) corpus: no direction exists — return the
    // zero vector; every projection downstream is then 0 over 0 rows
    if (rows.isEmpty) return Seq.fill(dims)(0L)
    // Ragged-corpus guard (ADVICE r14): a fixed-width corpus yields the
    // SAME count at every moment position and exactly tri positions; a
    // ragged one (vectors of differing lengths) would otherwise
    // silently build the mean outer product from inconsistent
    // per-position counts and skew M. The check is free on the ≤tri-row
    // collect — fail loudly instead.
    require(rows.length == tri && rows.map(_.getLong(1)).distinct.length == 1,
      s"pcaPower: ragged corpus — expected $tri moment positions with one shared count, " +
        s"got ${rows.length} positions with counts ${rows.map(_.getLong(1)).distinct.sorted.take(5).mkString(",")}; " +
        s"all vectors must be exactly $dims-dimensional")
    val n = rows.head.getLong(1)
    // invert the kernel's row-major upper-triangle layout
    val posIJ = {
      val b = Array.ofDim[(Int, Int)](tri)
      var p = 0
      for (i <- 0 until dims; j <- i until dims) { b(p) = (i, j); p += 1 }
      b
    }
    val m = Array.ofDim[Long](dims, dims)
    rows.foreach { r =>
      val (i, j) = posIJ(r.getInt(0))
      val v = Math.floorDiv(r.getLong(2), n)
      m(i)(j) = v; m(j)(i) = v
    }
    var x = Array.fill(dims)(1000L)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(dims) { i =>
        var s = 0L; var j = 0
        while (j < dims) { s += m(i)(j) * x(j); j += 1 }
        s
      }
      val r = y.map(math.abs).max
      if (r != 0) x = y.map(v => Math.floorDiv(v * 1000L, r))
    }
    x.toSeq
  }

  // ---- Product quantization (Jégou et al. 2011, "Product quantization
  // for nearest neighbor search") ---------------------------------------

  /** PQ codebook: `m` subspaces × `k` codes over `dims`-long quantized
    * vectors. Code j of subspace mi = dims [mi·sub, (mi+1)·sub) of the
    * j-th vector of the SAME deterministic (md5(id), id) sample that
    * seeds [[ivfCentroids]] — PQ's train-on-a-sample step with the
    * engine-portable sample, so a DuckDB oracle can rebuild the exact
    * codebook. Indexed [subspace][code][dim-in-subspace]; k·dims longs
    * total (k=16, dims=64 → 1 KiB), collected via
    * TakeOrderedAndProject — never a full sort.
    */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, dims: Int = 64): Seq[Seq[Seq[Long]]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    val sample = ivfCentroids(corpus, idCol, vecCol, k)
    (0 until m).map(mi => sample.map(v => v.slice(mi * sub, (mi + 1) * sub)))
  }

  /** PQ codes of a pre-quantized vector: array of `m` code indexes,
    * code mi = argmin_j integer L2 between the mi-th subvector and
    * codebook[mi][j] (smallest-j tiebreak). Each subspace reuses the
    * native [[graft.plans.IvfProbesExpr]] probe kernel on the sliced
    * subvector with the per-subspace codebook as a tiny plan literal —
    * the whole encode is MAP-ONLY (no join, no shuffle): at 100 TB,
    * PQ-encoding a corpus is one embarrassingly-parallel projection
    * writing m·log2(k) bits per vector.
    */
  def pqEncode(qv: Column, codebook: Seq[Seq[Seq[Long]]]): Column = {
    val sub = codebook.head.head.length
    array(codebook.indices.map { mi =>
      element_at(
        ivfProbesFast(slice(qv, mi * sub + 1, sub), typedLit(codebook(mi)), 1), 1)
    }: _*)
  }

  /** Total integer squared quantization error of `qv` against its PQ
    * `codes`: Σ_mi ‖subvec_mi − codebook[mi][code_mi]‖². Uses the exact
    * d² = ‖x‖²+‖c‖²−2x·c identity off the native dot kernel (integer
    * arithmetic — identical to summing squared differences).
    */
  def pqError(qv: Column, codes: Column, codebook: Seq[Seq[Seq[Long]]]): Column = {
    val sub = codebook.head.head.length
    codebook.indices.map { mi =>
      val sv = slice(qv, mi * sub + 1, sub)
      val cv = element_at(typedLit(codebook(mi)), element_at(codes, mi + 1).cast("int") + 1)
      qdotFast(sv, sv) + qdotFast(cv, cv) - lit(2L) * qdotFast(sv, cv)
    }.reduce(_ + _)
  }

  /** ADC distance table of a pre-quantized QUERY vector: flat array of
    * m·k integer entries, entry mi·k+j = ‖subvec_mi − codebook[mi][j]‖².
    * Codebook norms fold at plan-build time (they are driver-side
    * constants), so each entry costs one sub-dot. Computed ONCE per
    * query row (query side ≪ corpus); corpus rows never touch it.
    */
  def pqDistTable(qv: Column, codebook: Seq[Seq[Seq[Long]]]): Column = {
    // ONE native kernel call over the flattened codebook literal
    // (plans.PqDistTableExpr) — the previous m·k-entry unrolled
    // array(...) projection generated a class past janino's limits at
    // k=64 and silently fell back to interpreted eval (VERDICT r14
    // item 1); the entries are bit-identical (exact integer d²)
    val m = codebook.length
    val k = codebook.head.length
    toCol(graft.plans.PqDistTableExpr(
      toExpr(qv), toExpr(typedLit(codebook.flatten)), m, k))
  }

  /** ADC approximate distance: Σ_mi dtab[mi·k + codes[mi]] — m array
    * lookups per (query, corpus) pair, NO vector arithmetic. This is
    * PQ's payoff: after the one-time encode, scanning a candidate costs
    * O(m) instead of O(dims), and the codes are m·log2(k) bits instead
    * of dims·32 — the corpus that rides the scan shrinks 32×.
    * Unrolled (not a HOF fold) so it stays inside whole-stage codegen.
    */
  def pqAdcDistance(dtab: Column, codes: Column, m: Int, k: Int): Column =
    (0 until m).map { mi =>
      element_at(dtab, (element_at(codes, mi + 1).cast("int") + lit(mi * k + 1)))
    }.reduce(_ + _)

  /** PQ/ADC top-`kNN` — the quantized-scan ANN: corpus rows PQ-encode
    * (map-only), query rows build their ADC distance table (map-only,
    * query side ≪ corpus), and the scan ranks candidates by the O(m)
    * table-lookup distance — approximate in DISTANCE (quantization
    * error) but deterministic and engine-portable, so an oracle can
    * replay it exactly. Smallest distance first; neighbor-id tiebreak.
    * The query side broadcasts; the corpus never shuffles before the
    * per-query top-k.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      kNN: Int, m: Int = 8, k: Int = 16, dims: Int = 64): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, k, dims)
    val c = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv")))
      .select(col("neighbor_id"), pqEncode(col("cv"), cb).as("codes")))
      .select(col("neighbor_id"), col("codes"))
    val q = Fence.guard(Fence.guard(
        queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("query_id"), pqDistTable(col("qv"), cb).as("dtab")))
      .select(col("query_id"), col("dtab"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcDistance(col("dtab"), col("codes"), m, k).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= kNN)
  }

  def vecSubFast(a: Column, b: Column): Column = toCol(graft.plans.VecSub(toExpr(a), toExpr(b)))
  def signBitsFast(qv: Column): Column = toCol(graft.plans.SignBits(toExpr(qv)))

  /** Binary-hashing ANN (1 bit/dim sign codes, Charikar 2002 hyperplane
    * rounding with axis planes): every vector compresses to ONE 64-bit
    * code (128× smaller than the float vector), candidates rank by
    * Hamming distance = one xor + popcount per pair — the cheapest
    * quantized-scan path of the compression family (SQ → PQ → binary).
    * The code column is the only corpus payload that travels; encode is
    * map-only. Smallest Hamming first; neighbor-id tiebreak.
    */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      kNN: Int): DataFrame = {
    def coded(df: DataFrame, id: String, code: String) =
      Fence.guard(
          df.select(col(idCol).as(id), quantizeFast(col(vecCol)).as("__qv")))
        .select(col(id), signBitsFast(col("__qv")).as(code))
    val q = coded(queries, "query_id", "qcode")
    val c = coded(corpus, "neighbor_id", "ccode")
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("bit_count(qcode ^ ccode)").cast("long").as("hamming"))
    val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= kNN)
  }

  /** IVF-PQ codebooks (Jégou et al. 2011 §IVFADC): `kCells` coarse
    * centroids + a `k`-code-per-subspace PQ codebook trained on the
    * RESIDUALS (vector − its nearest centroid) of the NEXT `k` vectors
    * of the same deterministic (md5,id) sample — disjoint from the
    * centroid prefix, so residuals are non-degenerate. All driver-side
    * arithmetic is the same exact integer L2 the plan uses, so a SQL
    * oracle can rebuild both structures.
    */
  def ivfPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      kCells: Int = 16, k: Int = 16, m: Int = 8, dims: Int = 64)
      : (Seq[Seq[Long]], Seq[Seq[Seq[Long]]]) = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sample = ivfCentroids(corpus, idCol, vecCol, kCells + k)
    val cents = sample.take(kCells)
    val src = sample.drop(kCells)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
    val sub = dims / m
    val resid = src.map { v =>
      val ci = cents.indices.minBy(i => (d2(v, cents(i)), i))
      v.zip(cents(ci)).map { case (x, c) => x - c }
    }
    (cents, (0 until m).map(mi => resid.map(_.slice(mi * sub, (mi + 1) * sub))))
  }

  /** IVF-PQ / IVFADC top-`kNN` — the production ANN index composition:
    * corpus rows assign to their nearest coarse cell (map-only) and
    * PQ-encode their RESIDUAL (native [[graft.plans.VecSub]] kernel —
    * residuals concentrate around 0, which is what makes a shared
    * residual codebook tight); queries probe `nprobe` cells and build
    * ONE ADC distance table PER PROBED CELL from their per-cell
    * residual (map-only, queries ≪ corpus); candidates meet in a plain
    * cid equi-join and cost O(m) lookups each. A corpus row lives in
    * exactly one cell, so no pair dedup is needed. Deterministic
    * integer arithmetic end-to-end — oracle-replayable.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      kNN: Int, kCells: Int = 16, nprobe: Int = 4, m: Int = 8, k: Int = 16,
      dims: Int = 64): DataFrame = {
    val (cents, rcb) = ivfPqCodebooks(corpus, idCol, vecCol, kCells, k, m, dims)
    val centsLit = typedLit(cents)
    val c = Fence.guard(Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("cv")))
      .select(col("neighbor_id"), col("cv"),
        element_at(ivfProbesFast(col("cv"), centsLit, 1), 1).as("cid")))
      .select(col("neighbor_id"), col("cid"),
        vecSubFast(col("cv"), element_at(centsLit, col("cid").cast("int") + 1)).as("rv")))
      .select(col("neighbor_id"), col("cid"), pqEncode(col("rv"), rcb).as("codes"))
    val q = Fence.guard(Fence.guard(
        queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("query_id"), col("qv"),
        ivfProbesFast(col("qv"), centsLit, nprobe).as("__ps")))
      .select(col("query_id"), col("qv"), explode(col("__ps")).as("cid"))
    val q2 = Fence.guard(
        q.select(col("query_id"), col("cid"),
          vecSubFast(col("qv"), element_at(centsLit, col("cid").cast("int") + 1)).as("qrv")))
      .select(col("query_id"), col("cid"), pqDistTable(col("qrv"), rcb).as("dtab"))
    val scored = q2.join(c, Seq("cid")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcDistance(col("dtab"), col("codes"), m, k).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= kNN)
  }

  /** Two-stage PQ search — ADC shortlist then EXACT integer-L2 re-rank,
    * the standard production composition (quantized scan recalls a
    * candidate superset cheaply; exact arithmetic touches only the
    * shortlist): [[pqAdcTopK]] keeps `shortlist` candidates per query
    * by table-lookup distance, then ONLY those rows re-join the corpus
    * vectors for the exact distance. At 100 TB the full-vector fetch is
    * an equi-join sized queries×shortlist — never corpus-sized.
    */
  def pqAdcRescoreTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      kNN: Int, shortlist: Int = 0, m: Int = 8, k: Int = 16, dims: Int = 64): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * kNN
    val cand = pqAdcTopK(queries, corpus, idCol, vecCol, sl, m, k, dims)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), quantizeFast(col(vecCol)).as("qa"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), quantizeFast(col(vecCol)).as("ca"))
    val scored = cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (qdotFast(col("qa"), col("qa")) + qdotFast(col("ca"), col("ca")) -
          lit(2L) * qdotFast(col("qa"), col("ca"))).as("d2"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= kNN)
  }

  /** Embedding-cosine near-duplicate pairs: all (id_a < id_b) sharing an
    * LSH bucket in any table whose exact quantized cosine clears
    * τ = tauNum/tauDen, decided in pure integer arithmetic:
    * dot > 0 ∧ tauDen²·dot² ≥ tauNum²·‖a‖²·‖b‖² — no float rounding, so
    * the decision is engine-portable. The LSH prefilter is the 100 TB
    * shape (candidates via equi-join, never all-pairs); its recall
    * follows the lshTopK table/plane tradeoff.
    */
  /** AUTO-SIZED LSH plane count: the smallest P with 2^P buckets per
    * table ≥ n/32 (floored at 4), i.e. expected bucket occupancy ≤ 32
    * regardless of corpus size — bucket count tracks n, so candidate
    * pairs stay O(n·occupancy), never the O(n²/2^P) a FIXED P degrades
    * to (the sf1 rehearsal measured fixed-4 at 10-16× per 10× data).
    * Integer-exact on both engines: P = max(4, bitlen(⌈n/32⌉ − 1))
    * (the oracle's length(bin(...)) twin). Per-table recall for a
    * true pair decays as cos^P; production tunes (tables, occupancy)
    * jointly — here tables stays 8 and the recall curve is itself
    * measured data (q_cosine_bands / q_jaccard_calibration).
    */
  def autoPlanes(n: Long): Int = {
    val m = (n + 31) / 32
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, m - 1)))
  }

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      tauNum: Int, tauDen: Int, tables: Int = 8, planes: Int = 0): DataFrame = {
    // Fences pin quantize and the bucket array to one evaluation each
    // (inferred generate predicates otherwise recompute them); the
    // join-key repartition gives both self-join sides ONE shared
    // exchange (ReusedExchange) — scan + quantize + norms + buckets run
    // once; shuffle_hash avoids a corpus-sized broadcast (see
    // minhashCandidates)
    val p = if (planes > 0) planes else autoPlanes(memoCount(df))
    val e = Fence.guard(Fence.guard(df
        .select(col(idCol).as("id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("id"), col("qv"), qdotFast(col("qv"), col("qv")).as("nrm"),
        lshBucketsFast(col("qv"), tables, p).as("__bks")))
      .select(col("id"), col("qv"), col("nrm"),
        posexplode(col("__bks")).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
    // threshold BEFORE the pair-dedup aggregation: every copy of a pair
    // carries identical dot/norms, so the integer test runs per copy
    // and the aggregation input shrinks by the threshold's selectivity
    e.as("a").hint("shuffle_hash").join(e.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        qdotFast(col("a.qv"), col("b.qv")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * (tauDen.toLong * tauDen) >=
          col("na") * col("nb") * (tauNum.toLong * tauNum))
      .groupBy("id_a", "id_b")
      .agg(max("dot").as("dot"))
      .select(col("id_a"), col("id_b"), col("dot"))
  }

  /** SemDeDup-style semantic dedup report (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest of
    * `kCentroids` deterministic centroids (map-only — centroids ride
    * in the plan as a literal), then WITHIN each cell drop
    * any vector whose exact quantized cosine to a lower-id cell-mate
    * clears τ = tauNum/tauDen. Per cell: member/dropped/kept counts.
    *
    * The within-cell self-join is the algorithm's actual shape:
    * kCentroids defaults to AUTO (0) = ⌈√n⌉ via [[autoCentroidCount]]
    * (one count action over `corpus` at construction — cheap next to
    * the pair join; pass an explicit k to skip it), so cells stay
    * O(√n) in expectation and the per-cell pair count stays bounded —
    * candidates arrive via the cid equi-join, never all-pairs. The
    * threshold test is pure integer arithmetic
    * (tauDen²·dot² ≥ tauNum²·‖a‖²·‖b‖², dot > 0), engine-portable.
    * Both join sides share one fenced assignment exchange
    * (ReusedExchange), so scan + quantize + assign run once.
    */
  def semDedupReport(corpus: DataFrame, idCol: String, vecCol: String,
      tauNum: Int, tauDen: Int, kCentroids: Int = 0): DataFrame = {
    require(kCentroids >= 0, s"kCentroids must be >= 0 (0 = auto sqrt(n)), got $kCentroids")
    val k = if (kCentroids > 0) kCentroids else autoCentroidCount(memoCount(corpus))
    val cents = typedLit(ivfCentroids(corpus, idCol, vecCol, k))
    val a = Fence.guard(Fence.guard(
        corpus.select(col(idCol).as("id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("id"), col("qv"),
        element_at(ivfProbesFast(col("qv"), cents, 1), 1).as("cid")))
      .select(col("id"), col("qv"), col("cid"),
        qdotFast(col("qv"), col("qv")).as("nrm"))
      .repartition(col("cid"))
    val dropped = a.as("a").hint("shuffle_hash").join(a.as("b").hint("shuffle_hash"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("b.cid").as("cid"), col("b.id").as("id_b"),
        qdotFast(col("a.qv"), col("b.qv")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * (tauDen.toLong * tauDen) >=
          col("na") * col("nb") * (tauNum.toLong * tauNum))
      .select(col("cid"), col("id_b")).distinct()
    a.groupBy("cid").agg(count(lit(1)).as("n_members"))
      .join(dropped.groupBy("cid").agg(count(lit(1)).as("n_dropped")), Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  /** UN-thresholded LSH candidate pairs with exact integer dot and
    * norms — the input for threshold-TUNING analyses (q_cosine_bands):
    * same fenced / shared-exchange shape as cosineNearDupPairs, but
    * every candidate survives to be banded downstream, so the
    * pair-dedup aggregation carries (dot, na, nb) via max (every copy
    * of a pair holds identical values).
    */
  def cosineCandidates(df: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, planes: Int = 0): DataFrame = {
    val p = if (planes > 0) planes else autoPlanes(memoCount(df))
    val e = Fence.guard(Fence.guard(df
        .select(col(idCol).as("id"), quantizeFast(col(vecCol)).as("qv")))
      .select(col("id"), col("qv"), qdotFast(col("qv"), col("qv")).as("nrm"),
        lshBucketsFast(col("qv"), tables, p).as("__bks")))
      .select(col("id"), col("qv"), col("nrm"), col("__bks"),
        posexplode(col("__bks")).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
    // Report-once-at-min-table (the q_dedup_simhash_pairs device): a
    // pair colliding in k of the `tables` hash tables used to be
    // emitted k times and deduplicated by a (id_a, id_b) max-aggregate
    // — at sf10 that exchange moved ~256·n candidate rows and was the
    // whole cost of q_cosine_bands (232 s, 20×/decade; the first
    // full-headline two-decade sweep, r14). Each side carries its full
    // bucket array, so "no earlier table also collides" is a row-LOCAL
    // predicate on the joined row: the pair is emitted exactly once,
    // from its minimum colliding table, and the dedup exchange
    // disappears. dot/na/nb are table-independent, so the output is
    // identical to the old max-dedup.
    val noEarlier = !toCol(graft.plans.EarlierCollision(
      toExpr(col("a.__bks")), toExpr(col("b.__bks")), toExpr(col("a.tbl"))))
    e.as("a").hint("shuffle_hash").join(e.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .filter(noEarlier)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        qdotFast(col("a.qv"), col("b.qv")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
  }
}
