package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stream combinators that are trivially relational in Spark. */
object Relational {

  /** Merge N streams into one (reference StreamExt::merge,
    * example/tpipe.rs:108-111). Union is a no-shuffle narrow op.
    */
  def merge(streams: DataFrame*): DataFrame = streams.reduce(_ unionByName _)

  /** Split/branch a stream by predicate labels in a single scan
    * (reference fork/split): adds a `branch` label column rather than
    * materializing per-branch copies — branches filter lazily off one
    * scan.
    */
  def branch(df: DataFrame, branches: Seq[(String, Column)], otherwise: String = "other"): DataFrame = {
    val labeled = branches.foldRight(lit(otherwise)) { case ((name, pred), acc) =>
      when(pred, lit(name)).otherwise(acc)
    }
    df.withColumn("branch", labeled)
  }

  /** Deterministic global shuffle order: pos = rank of (md5(id), id)
    * over the whole dataset — the reproducible "shuffle the corpus" a
    * training run needs, with zero RNG state. NOT a global sort: the
    * leading `prefixChars` md5 hex chars give 16^prefixChars buckets
    * whose order is a PREFIX of the global sort key, so bucket-major
    * order == global order. Per-bucket counts → exclusive offsets (a
    * bucket-count-row window, broadcast back), then row_number within
    * each bucket: the only per-row movement is one bucket-way hash
    * shuffle. `prefixChars` is the scale knob bounding per-task sort
    * size: 2 (256 buckets) suits test scale; at 100 TB, 4-5
    * (65536/1M buckets) keeps each bucket's sort inside one task. The
    * default (0 = auto) turns the knob itself from the input count —
    * smallest width keeping expected bucket size ≤ 10⁶ rows. Auto
    * sizing runs ONE count action over `df` at construction time,
    * memoized per canonicalized plan (VectorFns.memoCount) so repeated
    * construction and plan-only paths don't re-scan; when the input has
    * expensive upstream transforms, cache it first or pass an explicit
    * width. The
    * permutation is width-invariant (asserted in OperatorsSpec), so
    * auto-sizing never changes results.
    */
  def shuffleOrder(df: DataFrame, idCol: String, prefixChars: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prefixChars >= 0, s"prefixChars must be >= 0 (0 = auto), got $prefixChars")
    val chars =
      if (prefixChars > 0) prefixChars
      else autoPrefixChars(graft.functions.VectorFns.memoCount(df))
    val h = md5(col(idCol).cast("string"))
    val base = df.select(col(idCol), h.as("__h"), substring(h, 1, chars).as("__b"))
    // the offsets window spans only the 16^chars bucket-count rows
    // (≤65k at width 4) — its single-partition WindowExec warning is
    // expected and bounded; per-row work stays inside keyed buckets
    val offsets = base.groupBy("__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    val wb = Window.partitionBy("__b").orderBy(col("__h"), col(idCol))
    base.join(broadcast(offsets), "__b")
      .select(col(idCol),
        (col("__off") + row_number().over(wb) - 1).cast("long").as("pos"))
  }

  /** Smallest md5-prefix width (2..8 hex chars) whose 16^c buckets keep
    * the expected per-bucket sort ≤ 10⁶ rows — ~10⁹ rows pick 3, 100 TB
    * row counts (~10¹¹) pick 5.
    */
  private[graft] def autoPrefixChars(n: Long): Int = {
    var c = 2
    var buckets = 256L
    while (c < 8 && n / buckets > 1000000L) { c += 1; buckets *= 16 }
    c
  }

  /** Deterministic stratified sampling: keep a row iff its id's
    * md5-bucket (0-999) falls below `ratePermille` — a per-row Column,
    * so rates can come from a literal CASE table, a broadcast join, or
    * config. Map-only, zero RNG state, rerun-stable: the same rates
    * always keep the same rows.
    */
  def stratifiedSample(df: DataFrame, idCol: String, ratePermille: Column): DataFrame =
    df.filter(
      (conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long") % 1000L)
        < ratePermille)

  /** SNAPSHOT DIFF — classify each key as added / removed / changed
    * between two snapshots of the same keyed schema (the audit /
    * CDC-extract shape: "what changed between yesterday's load and
    * today's"). One full-outer equi-join on the key; all non-key
    * columns compare as a single struct with null-safe equality, so a
    * wide schema costs one comparison, not one per column; unchanged
    * keys drop (the delta contract — at 100 TB the delta is typically
    * orders of magnitude smaller than either snapshot, and emitting it
    * instead of the joined pair keeps the output shuffle tiny). Both
    * inputs must share the exact column set; a missing side is
    * detected via join-produced null structs (a present row's struct
    * is never null, even if every field inside is).
    */
  def snapshotDiff(old: DataFrame, cur: DataFrame, keys: Seq[String]): DataFrame = {
    require(old.columns.sorted.sameElements(cur.columns.sorted),
      s"snapshots must share columns, got ${old.columns.mkString(",")} vs ${cur.columns.mkString(",")}")
    require(keys.nonEmpty && keys.forall(old.columns.contains), s"bad keys: ${keys.mkString(",")}")
    val nonKey = old.columns.filterNot(keys.contains).toIndexedSeq
    def packed(df: DataFrame, as: String) =
      df.select(keys.map(col) :+ struct(nonKey.map(col): _*).as(as): _*)
    packed(old, "__ov").join(packed(cur, "__cv"), keys, "full_outer")
      .filter(col("__ov").isNull || col("__cv").isNull || !(col("__ov") <=> col("__cv")))
      .withColumn("change",
        when(col("__ov").isNull, lit("added"))
          .when(col("__cv").isNull, lit("removed"))
          .otherwise(lit("changed")))
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** MERGE-style changelog apply (the lakehouse upsert: reference
    * src/table.rs:17-45 keeps only the latest record per key — this is
    * that compaction plus DELETE semantics, applied against an existing
    * base snapshot). `changes` carries the base's columns plus `order`
    * (a deterministic total order per key; pass a unique tiebreak
    * last) and a boolean `deleteCol` marking tombstones. Per key, only
    * the LATEST change matters: a final tombstone removes the key, a
    * final upsert replaces the base row, keys never touched pass
    * through. Plan shape: the changelog compacts FIRST (map-side
    * partial `max_by` — the changelog at 100 TB is typically orders of
    * magnitude smaller than the base), then ONE full-outer key join;
    * the base never sees a window sort. Output = base schema.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame, keys: Seq[String],
      order: Seq[String], deleteCol: String): DataFrame = {
    val nonKey = base.columns.filterNot(keys.contains).toIndexedSeq
    require(keys.nonEmpty && keys.forall(base.columns.contains), s"bad keys: ${keys.mkString(",")}")
    require((keys ++ nonKey ++ order :+ deleteCol).forall(changes.columns.contains),
      s"changes must carry base columns + order + $deleteCol, got ${changes.columns.mkString(",")}")
    val latest = Keyed.latestByKey(changes, keys, order)
      .select(keys.map(col) :+ struct((nonKey.map(col) :+ col(deleteCol).as("__del")): _*).as("__cv"): _*)
    val packedBase = base.select(keys.map(col) :+ struct(nonKey.map(col): _*).as("__bv"): _*)
    packedBase.join(latest, keys, "full_outer")
      // a surviving key is: untouched (no change row), or its latest
      // change is an upsert; a latest tombstone for an absent base key
      // is a no-op delete and also drops here
      .filter(col("__cv").isNull || !col("__cv.__del"))
      .select(keys.map(col) ++ nonKey.map(c =>
        when(col("__cv").isNull, col(s"__bv.`$c`")).otherwise(col(s"__cv.`$c`")).as(c)): _*)
  }

  /** Two-phase bucketed running sum — the 100 TB replacement for a
    * running-sum window partitioned on a coarse group key (one task
    * per group: the canonical scale-killer). `bucket` must COARSEN the
    * `orderCols` total order within each group (all rows of bucket b
    * sort before all rows of bucket b+1). Phase 1: per-(group, bucket)
    * weight totals — an ordinary partial-agg shuffle. Phase 2:
    * exclusive bucket offsets via a window over BUCKET rows only
    * (buckets-per-group rows, not corpus rows). Phase 3: the row-level
    * running sum inside each (group, bucket) — parallelism = groups ×
    * buckets — plus the broadcast offset. With nonnegative weights an
    * optional `maxOffset` prunes whole buckets whose exclusive offset
    * already exceeds a budget BEFORE any row-level work, so a budget
    * cut touches only the buckets at or below the straddle point.
    * Column names `__bk`/`__off`/`__n` are reserved; the offsets table
    * (groups × buckets rows) must stay broadcastable — size the bucket
    * width so it does (≈ rows / 10⁶ buckets, cf. [[autoPrefixChars]]).
    */
  def bucketedRunningSum(df: DataFrame, groupCol: String, bucket: Column,
      orderCols: Seq[Column], weightCol: String, outCol: String,
      maxOffset: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin base on its (group, bucket) exchange: the offsets aggregate
    // and the row-level window both consume it, and without the
    // explicit repartition their exchange subtrees differ (partial agg
    // inside one of them) so the upstream input — often a full
    // tokenize pass — would be computed twice instead of riding one
    // ReusedExchange (the semDedupReport pattern)
    val base = df.withColumn("__bk", bucket).repartition(col(groupCol), col("__bk"))
    val offsets = base.groupBy(col(groupCol), col("__bk"))
      .agg(sum(col(weightCol)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.partitionBy(groupCol).orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("__bk"), col("__off"))
    val pruned = maxOffset.fold(offsets)(m => offsets.filter(col("__off") <= m))
    val wb = Window.partitionBy(col(groupCol), col("__bk")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    base.join(broadcast(pruned), Seq(groupCol, "__bk"))
      .withColumn(outCol, (col("__off") + sum(col(weightCol)).over(wb)).cast("long"))
      .select(df.columns.map(col).toSeq :+ col(outCol): _*) // keep input column order
  }

  /** Deterministic weighted budget cut per group: walk each group's
    * rows in the reproducible shuffle order (md5(id), id) and keep rows
    * while the running `weightCol` sum stays within `budget`. Adds
    * `cum_<weightCol>`. Runs as [[bucketedRunningSum]] over md5-prefix
    * buckets (the prefix coarsens the (md5, id) order), so no window
    * ever partitions on the bare group and buckets wholly past the
    * budget are pruned before row-level work. `prefixChars` = 2 (256
    * buckets) suits test scale; 4-5 at 100 TB row counts.
    */
  def budgetCut(df: DataFrame, groupCol: String, idCol: String, weightCol: String,
      budget: Long, prefixChars: Int = 2): DataFrame = {
    require(prefixChars >= 1, s"prefixChars must be >= 1, got $prefixChars")
    val h = md5(col(idCol).cast("string"))
    bucketedRunningSum(df, groupCol, substring(h, 1, prefixChars),
        Seq(h, col(idCol)), weightCol, s"cum_$weightCol", maxOffset = Some(budget))
      .filter(col(s"cum_$weightCol") <= budget)
  }

  /** Connected components by the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): every node's label converges to the smallest id
    * in its component — the canonical "pick one representative per
    * duplicate cluster" step after near-dup pair mining. Returns
    * (id, cluster_root) for every node appearing in `pairs`.
    *
    * Why star-contraction and not min-label propagation: propagation
    * moves a label ONE hop per round, so a chain-heavy giant component
    * (the shape near-dup graphs collapse into as scale grows — at
    * sf0.1 the simhash graph is already ONE 4,724-node component)
    * costs O(diameter) shuffle rounds. Star contraction rewires edges
    * toward local minima, roughly halving path lengths per round:
    * O(log diameter) rounds on paths (O(log^2 n) worst case), each
    * round two groupBy-min + join shuffles. A 128-node chain converges
    * in 5 rounds where propagation needs 127 (asserted in
    * OperatorsSpec); the real sf0.1 simhash graph (311k pairs, one
    * 4,7xx-node giant component) converges in 3 (measured). Random
    * graphs are checked against union-find in KernelPropertySpec.
    *
    * Driver involvement per round is one star-shape test (a count) —
    * exact, no signature hashing — so total driver actions are
    * O(log d), not O(d). A probing loop under [[Iterate.probe]]: the
    * edge state is cut every round and each superseded round freed.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30): DataFrame =
    connectedComponentsWithRounds(pairs, srcCol, dstCol, maxRounds)._1

  /** [[connectedComponents]] plus the alternation-round count it took to
    * converge — exposed so specs can pin the O(log diameter) bound.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30): (DataFrame, Int) = {
    val raw = pairs.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // every input node gets a label, including self-loop-only nodes
    val nodes = raw.select(col("u").as("id")).union(raw.select(col("v").as("id")))
      .distinct().localCheckpoint(true)
    // canonical a < b; self-loops carry no connectivity
    val canon = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    Iterate.probe(canon, maxRounds, isStar) { (e, _) =>
      // LARGE-STAR: for each node u, connect every strictly-larger
      // neighbor v to m(u) = min(N(u) ∪ {u}). Output stays canonical:
      // m(u) <= u < v.
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // SMALL-STAR: store each edge at its larger endpoint b; connect
      // all smaller neighbors (and b itself) to m(b) = min of them.
      val sMins = ls.groupBy("b").agg(min(col("a")).as("m"))
      val withMin = ls.join(sMins, "b")
      withMin.select(col("m").as("a"), col("a").as("b")).filter(col("a") =!= col("b"))
        .union(withMin.select(col("m").as("a"), col("b")))
        .distinct()
    } { run =>
      if (!run.stopped)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds star rounds")
      // At the star fixpoint every edge is (root, member); roots and
      // isolated nodes label themselves.
      nodes
        .join(run.state.select(col("b").as("id"), col("a").as("root")), Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("cluster_root"))
    }
  }

  /** Converged iff the edge set is a DISJOINT union of stars, which
    * needs BOTH exact conditions: (1) two-level — no edge source is any
    * edge's destination; (2) single-parent — no destination carries two
    * edges. Condition (1) alone accepts two stars sharing a leaf
    * (e.g. {(0,3),(1,3)}: sources {0,1} never appear as destinations,
    * yet 3 has two parents and components 0/1 are actually one) — that
    * under-test stopped the loop early and emitted duplicate,
    * wrongly-split labels. Both are exact counts, no hash-signature
    * collision risk.
    */
  private def isStar(e: DataFrame): Boolean = {
    // ONE driver action per round: fold both conditions into a single
    // aggregation — (max parents per destination, any destination that
    // is also a source). src∩dst ≠ ∅ iff some destination appears in
    // the distinct source set, so the left join carries condition (2).
    val r = e.groupBy("b").agg(count(lit(1)).as("c"))
      .join(e.select(col("a")).distinct().withColumn("__hit", lit(1)),
        col("b") === col("a"), "left")
      .agg(max(col("c")).as("mx"), max(coalesce(col("__hit"), lit(0))).as("hit"))
      .head()
    r.isNullAt(0) || (r.getLong(0) <= 1 && r.getInt(1) == 0) // empty edge set is a star fixpoint
  }

  /** Per-node triangle counts over an undirected pair list — the
    * clustering-coefficient numerator, and on a near-dup graph the
    * "is this cluster a clique or a chain?" diagnostic that decides
    * whether transitive closure is safe to apply.
    *
    * Uses the degree-ordered orientation: each edge points from its
    * lower-(degree, id) endpoint to the higher one, so every node's
    * out-degree is O(sqrt(m)) and the wedge join (the quadratic step in
    * a naive count) is bounded by m^1.5 total wedges — the standard
    * scale shape for triangle enumeration. Each triangle is found
    * exactly once (its apex is the orientation-smallest corner); all
    * three corners then get credit via one explode. Both the wedge join
    * (on apex) and the closing join (on the (lo, hi) edge) are
    * equi-joins — never all-pairs.
    *
    * @param state optional prebuilt graph state shared across the
    *   graph family: (symmetric-distinct self-loop-free edge list as
    *   (src, dst), per-node degree as (id, deg)) — both already
    *   materialized (checkpointed) by the caller. When present, the
    *   operator's own distinct + degree aggregation are replaced by
    *   map-only reads of the shared frames, so repeated graph queries
    *   over one corpus pay the edge build once (the session-memo
    *   discipline of the CC/LPA state).
    */
  def triangleCounts(pairs: DataFrame, srcCol: String, dstCol: String,
      state: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val p = state match {
      case Some((sym, _)) =>
        sym.filter(col("src") < col("dst"))
          .select(col("src").as("a"), col("dst").as("b"))
      case None => pairs.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
    }
    val deg = state match {
      case Some((_, d)) => d.select(col("id"), col("deg"))
      case None =>
        p.select(col("a").as("id")).unionAll(p.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
    }
    val e = p
      .join(deg.select(col("id").as("__ia"), col("deg").as("da")), col("a") === col("__ia"))
      .join(deg.select(col("id").as("__ib"), col("deg").as("db")), col("b") === col("__ib"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // Explicit partition count on the wedge-join input: the frame is
    // BYTE-tiny (narrow (src,dst,dk) rows) but ROW-explosive — the
    // wedge join amplifies it to O(m^1.5) downstream rows, so AQE's
    // byte-based coalescing (which cannot see join amplification)
    // collapses it to 1 post-shuffle partition and the entire
    // wedge+close pipeline runs in ONE task (measured: 4.9 s of the
    // 6.6 s sf0.1 bench time serial on 32 cores), hence Width; at data
    // sizes where broadcast stops applying the hash-on-src exchange is
    // exactly the distribution the wedge self-join requires, so no
    // second exchange appears.
    val wedgeParts = graft.functions.Width.computeDense(pairs.sparkSession)
    val oriented = e.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, struct(col("db").as("d"), col("b").as("i")))
        .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("dk"))
      .repartition(wedgeParts, col("src"))
    val e1 = oriented.select(col("src"), col("dst").as("lo"), col("dk").as("lk"))
    val e2 = oriented.select(col("src").as("src2"), col("dst").as("hi"), col("dk").as("hk"))
    val wedges = e1.join(e2, col("src") === col("src2") && col("lk") < col("hk"))
      .select(col("src").as("apex"), col("lo"), col("hi"))
    val closing = oriented.select(col("src").as("c_lo"), col("dst").as("c_hi"))
    val tris = wedges.join(closing, col("lo") === col("c_lo") && col("hi") === col("c_hi"))
      .select(col("apex"), col("lo"), col("hi"))
    tris.select(explode(array(col("apex"), col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
  }

  /** Fixed-iteration integer PageRank over an undirected pair list —
    * the centrality score a dedup pipeline uses to pick cluster
    * representatives (or to spot template hubs) on the near-dup graph.
    *
    * All-arithmetic-is-integer so the result is engine-portable: pr is
    * scaled to micro-units (pr0 = 1,000,000), each node contributes
    * `pr div deg` to every neighbor, and the damping update is
    * pr' = 150000 + (850 * sum_contribs) div 1000 (d = 0.85 in exact
    * milli-units). Fixed `iters` rather than convergence detection
    * keeps the oracle expressible as a non-recursive unrolled query.
    * It is [[personalizedPageRank]] with every node a seed.
    *
    * Scale shape: edges materialize ONCE ([[symEdges]], partitioned
    * on src — they are referenced every iteration, so without the
    * materialization the upstream pair mining would re-run per
    * iteration); each iteration is one equi-join + one partial-agg
    * shuffle on dst. Unlike connectedComponents there is no per-round
    * driver count, so the loop is an [[Iterate.walk]]: plan depth is
    * bounded by `iters`, and the lineage cut (every
    * [[Iterate.WalkCadence]] rounds) only kicks in for deep runs.
    * Self-loops are dropped: a node whose only edge is a self-loop
    * gets no row.
    *
    * @param state see [[triangleCounts]] — prebuilt (symmetric edges
    *   partitioned by src, (id, deg)), both checkpointed by the caller.
    */
  def pageRank(pairs: DataFrame, srcCol: String, dstCol: String, iters: Int = 3,
      state: Option[(DataFrame, DataFrame)] = None): DataFrame =
    seededWalk(pairs, srcCol, dstCol, lit(true), iters, state, "pr_micro")

  /** Personalized PageRank / random-walk-with-restart (Page et al.
    * 1999 §6 "personalized PageRank"; Jeh & Widom WWW'03): the teleport
    * mass returns to a SEED set instead of uniformly, so the stationary
    * mass scores RELEVANCE TO THE SEEDS — the seed-based corpus
    * selection walk ("rank everything by proximity to my curated
    * docs") and the weighted form of the BFS blast radius. Same exact
    * integer milli recurrence as [[pageRank]] with the restart term
    * seed-gated:
    *   pr₀(v)    = 1 000 000·[v ∈ S]
    *   prₜ₊₁(v) = 150 000·[v ∈ S] + (850·Σ_{u→v} ⌊prₜ(u)/deg(u)⌋)div 1000
    * — floor division at each step, so both engines agree bit-for-bit.
    * Non-seed sinks hold mass 0 until reached; total mass decays where
    * the graph leaks, exactly like the uniform variant. Scale shape and
    * lineage cuts are pageRank's: one checkpointed symmetric edge list,
    * per round one src-keyed join + dst-keyed partial aggregate, rank
    * state one row per node. Self-loops are dropped, as in pageRank.
    */
  def personalizedPageRank(pairs: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column, iters: Int = 3,
      state: Option[(DataFrame, DataFrame)] = None): DataFrame =
    seededWalk(pairs, srcCol, dstCol, seedPred, iters, state, "ppr_micro")

  /** The seed-gated PageRank recurrence behind [[pageRank]] and
    * [[personalizedPageRank]], as (id, `outCol`).
    */
  private def seededWalk(pairs: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column, iters: Int, state: Option[(DataFrame, DataFrame)],
      outCol: String): DataFrame = {
    // (id, deg) materializes once too: every iteration joins against it
    // (referencing the PREVIOUS rank twice instead would double the
    // plan per round — exponential), and every iteration's reference
    // then reads the same checkpointed leaf; the seed flag is a
    // map-only column over it
    val (edges, deg) = state.getOrElse {
      val e = symEdges(pairs, srcCol, dstCol)
      (e, e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")).localCheckpoint(true))
    }
    val seeded = deg.withColumn("__seed", seedPred)
    val pr0 = seeded.select(col("id"),
      when(col("__seed"), lit(1000000L)).otherwise(lit(0L)).as("pr"),
      col("deg"), col("__seed"))
    Iterate.walk(pr0, iters) { pr =>
      val contribs = edges
        .join(pr.select(col("id").as("__src"), expr("pr div deg").as("__c")),
          col("src") === col("__src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("__c")).as("__s"))
      seeded.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (when(col("__seed"), lit(150000L)).otherwise(lit(0L)) +
            expr("(850 * coalesce(__s, 0)) div 1000")).as("pr"),
          col("deg"), col("__seed"))
    }.select(col("id"), col("pr").as(outCol))
  }

  /** k-core peel (Seidman 1983 degeneracy cores), FIXED-round variant:
    * W₀ = all undirected edges; Wᵣ₊₁ = edges of W₀ whose BOTH endpoints
    * have degree ≥ k in Wᵣ. The filter is monotone (Wᵣ₊₁ ⊆ Wᵣ: a
    * dropped edge's endpoint degree can only shrink), so extra rounds
    * after convergence are no-ops — the result is that of running
    * EXACTLY `rounds` rounds on any engine, and the count-based early
    * exit below returns the SAME result (monotonicity makes count
    * equality a sound set-fixpoint test) while skipping the no-op
    * re-materializations. Returns surviving (id, degree) — the k-core
    * membership plus within-core degree. Self-loops are dropped.
    *
    * Scale shape: each round is one groupBy(degree) + two equi-joins
    * of the STATIC edge list against the (node, deg) table — never a
    * growing frontier; per-round state is edge-list-bounded. A probing
    * loop under [[Iterate.probe]]: each round's alive set is cut, and
    * the cut it supersedes freed, before its count is read.
    */
  def kCore(pairs: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 8, prebuiltSym: Option[DataFrame] = None): DataFrame = {
    // prebuiltSym: the caller's already-checkpointed [[symEdges]] list
    // (see [[triangleCounts]] for the shared-state contract)
    val sym = prebuiltSym.getOrElse(symEdges(pairs, srcCol, dstCol))
    // PEEL STATE LIVES IN NODE SPACE, never edge space: the alive set
    // Aᵣ (Aᵣ₊₁ = nodes with ≥ k surviving-edge endpoints in Aᵣ) is
    // node-sized (≪ edges by the average degree), so each round is ONE
    // pass over the static symmetric edge checkpoint — two broadcast
    // alive-probes (map-side) + a partial-agg degree count — and the
    // only thing ever re-materialized is the ~node-count alive table.
    // Materializing the filtered EDGE list per round instead costs
    // |E| shuffle+checkpoint per round, which at 60x edge density was
    // ~50x this formulation's wall time. (Billion-node graphs where
    // the alive set outgrows a broadcast: swap the probes to
    // shuffle_hash semi-joins; the recursion is unchanged.)
    def aliveDeg(alive: Option[DataFrame]): DataFrame = {
      val base = alive.fold(sym) { a =>
        sym
          .join(broadcast(a.select(col("id").as("__ia"))),
            col("src") === col("__ia"), "left_semi")
          .join(broadcast(a.select(col("id").as("__ib"))),
            col("dst") === col("__ib"), "left_semi")
      }
      base.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    }
    def peel(alive: Option[DataFrame]): DataFrame =
      aliveDeg(alive).filter(col("degree") >= k).select(col("id"))
    if (rounds <= 0) return aliveDeg(None)
    // the count doubles as the SOUND fixpoint test: the peel is monotone
    // (Aᵣ₊₁ ⊆ Aᵣ), so equal counts mean equal sets, and every later
    // round would reproduce A verbatim — stopping early returns the
    // bit-identical result of running all `rounds` rounds
    var prevCount = -1L
    def sameCount(alive: DataFrame): Boolean = {
      val c = alive.count()
      val same = c == prevCount
      prevCount = c
      same
    }
    // the first peel (every node alive) is the loop's initial state;
    // final degrees are over W = edges with both endpoints alive, and
    // nodes whose every edge died emit no row, as in the edge-space peel
    Iterate.probe(peel(None), rounds - 1, sameCount)((alive, _) => peel(Some(alive)))(
      run => aliveDeg(Some(run.state)))._1
  }

  /** Multi-source BFS to a fixed depth: dist(v) = min #hops from any
    * seed node, for every v within `maxHops` (the reachability /
    * blast-radius walk — "what else is within k links of these flagged
    * docs"). Same node-space discipline as kCore: the symmetric edge
    * list is checkpointed ONCE and the state is one node-sized (id,
    * dist) table. Hop h's frontier is the rows at dist h-1: one
    * broadcast frontier-probe over the edge list (map-side semi-join
    * shape), a distinct, and a broadcast anti-join against the labeled
    * set, unioned onto it — one cut per hop under [[Iterate.probe]].
    * The returned frame is the last hop's cut. On a graph whose frontier
    * outgrows a broadcast, swap both probes to shuffle_hash semi-joins —
    * the loop is unchanged. Self-loops are dropped.
    */
  def bfsHops(pairs: DataFrame, srcCol: String, dstCol: String,
      seedPred: Column, maxHops: Int,
      prebuiltSym: Option[DataFrame] = None): DataFrame = {
    val sym = prebuiltSym.getOrElse(symEdges(pairs, srcCol, dstCol))
    val seeds = sym.select(col("src").as("id")).distinct()
      .filter(seedPred)
      .withColumn("dist", lit(0L))
    Iterate.probe(seeds, maxHops) { (labeled, hop) =>
      val h = hop.index
      labeled.unionByName(sym
        .join(broadcast(labeled.filter(col("dist") === h - 1).select(col("id").as("src"))),
          Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(broadcast(labeled.select(col("id"))), Seq("id"), "left_anti")
        .withColumn("dist", lit(h.toLong)))
    }(_.state)._1
  }

  /** Synchronous majority-label propagation (Raghavan, Albert & Kumara
    * 2007 "Near linear time algorithm to detect community structures"),
    * FIXED `iters` rounds — the COMMUNITY member of the graph family:
    * CC converges reachability (every connected node ends in one
    * cluster), LPA instead pulls each node toward the label most
    * common among its NEIGHBORS, so dense near-clique regions keep
    * their own labels while sparse bridges flip — sub-component
    * structure CC is blind to. Deterministic variant: all nodes update
    * simultaneously from the previous round's labels (no update-order
    * dependence), ties break to the SMALLEST label, label₀(v) = v.
    * Fixed round count like pageRank (no data-dependent fixpoint), so
    * any engine replays it bit-for-bit. Self-loops are dropped: a node
    * whose only edge is a self-loop gets no row.
    *
    * Scale shape: one checkpointed symmetric edge list; each round is
    * one src-keyed join + one (dst, label) partial aggregate + one
    * per-node argmax — and the argmax is a declarative min over a
    * (−count, label) struct, so it partial-aggregates map-side instead
    * of rank-windowing the vote frame (counts are non-negative, so the
    * negation can never overflow, and the label itself is compared
    * un-negated — any orderable id type works, string ids included).
    * State is one label per node, cut like pageRank's by
    * [[Iterate.walk]], so the plan stays bounded at ANY `iters` instead
    * of nesting every prior round's join (at the default iters=3 no cut
    * fires and the plan is the un-checkpointed loop).
    */
  def labelPropagation(pairs: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame =
    labelPropagationWithEdges(pairs, srcCol, dstCol, iters)._1

  /** [[labelPropagation]] plus the checkpointed symmetric-distinct edge
    * list it already built — callers needing degrees (the modularity
    * accounting) read it instead of re-deriving the union+distinct
    * exchange over the pair graph.
    */
  def labelPropagationWithEdges(pairs: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, prebuiltEdges: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // prebuiltEdges: the caller's already-checkpointed [[symEdges]]
    // list (see [[triangleCounts]] for the shared-state contract); it
    // is returned as this function's edge component unchanged
    val edges = prebuiltEdges.getOrElse(symEdges(pairs, srcCol, dstCol))
    val lab0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    val lab = Iterate.walk(lab0, iters) { lab =>
      val votes = edges
        .join(lab.select(col("id").as("__src"), col("lab")), col("src") === col("__src"))
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(count(lit(1)).as("__cnt"))
      // argmax(count, then min label): min over the lexicographic
      // (−count, label) struct — partial-agg friendly, no window sort,
      // and order-safe for ANY label type (the count is what gets
      // negated, never the label, so string ids and Long.MinValue ids
      // order correctly)
      votes
        .groupBy("id")
        .agg(min(struct((-col("__cnt")).as("__nc"), col("lab"))).as("__m"))
        .select(col("id"), col("__m.lab").as("lab"))
    }
    (lab.select(col("id"), col("lab").as("community")), edges)
  }

  /** The symmetric edge list the graph loops walk, as (src, dst):
    * each pair made canonical, self-loops dropped, duplicates removed,
    * both directions unioned, repartitioned by src and checkpointed.
    * `Queries.graphSym` builds the same contract from pairs that are
    * canonical by construction; either can be passed as an operator's
    * prebuilt state.
    */
  def symEdges(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = pairs
      .select(least(col(srcCol), col(dstCol)).as("a"), greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
  }
}
