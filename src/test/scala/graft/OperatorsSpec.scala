package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Per-operator semantics on small hand-checkable data. */
class OperatorsSpec extends SparkSpecBase {
  import scala.jdk.CollectionConverters._

  private lazy val ev = {
    import spark.implicits._
    // (key, tsUs, value) — two keys, interleaved times
    Seq(
      (1L, 1000L, 10.0), (1L, 2000L, 20.0), (1L, 3000L, 30.0), (1L, 4000L, 40.0),
      (2L, 1500L, 5.0), (2L, 2500L, 15.0)
    ).toDF("k", "tus", "v").withColumn("ts", timestamp_micros(col("tus")))
  }

  test("bucketedRangeJoin: inclusive bounds, overlap multi-match, negatives, outside drops") {
    import spark.implicits._
    val fact = Seq((1L, -15L), (2L, 0L), (3L, 10L), (4L, 99L), (5L, 250L))
      .toDF("id", "v")
    val ranges = Seq(("neg", -20L, -10L), ("low", 0L, 10L), ("mid", 5L, 99L))
      .toDF("name", "lo", "hi")
    val got = graft.operators.Joins.bucketedRangeJoin(fact, "v", ranges, "lo", "hi", 7L)
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "neg"),              // negative value, floor-div bucketing
      (2L, "low"),              // inclusive lo boundary
      (3L, "low"), (3L, "mid"), // overlap -> one row per containing range
      (4L, "mid")               // inclusive hi boundary; id 5 outside all
    ), got)
  }

  test("applyChangelog: latest change wins, tombstone deletes, untouched passes, no-op delete drops") {
    import spark.implicits._
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val changes = Seq(
      // key 2: older upsert then newer tombstone -> deleted
      (2L, 25L, 1L, false), (2L, 0L, 2L, true),
      // key 3: older tombstone then newer upsert -> upserted
      (3L, 0L, 1L, true), (3L, 35L, 2L, false),
      // key 4: insert (no base row)
      (4L, 40L, 1L, false),
      // key 5: tombstone with no base row -> stays absent
      (5L, 0L, 1L, true)
    ).toDF("k", "v", "seq", "del")
    val got = Relational.applyChangelog(base, changes, Seq("k"), Seq("seq"), "del")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (3L, 35L), (4L, 40L)), got)
  }

  test("sessionize: gap starts a new session, per-key indexes and positions are 1-based") {
    import spark.implicits._
    val e = Seq(
      (1L, 0L), (1L, 500L), (1L, 2000L), (1L, 2400L), (1L, 2800L),
      (2L, 100L)
    ).toDF("k", "tus").withColumn("eid", col("tus"))
    val got = Keyed.sessionize(e, Seq("k"), "tus", Seq("tus", "eid"), 1000L)
      .select("k", "tus", "session_idx", "pos_in_session")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 1L, 1L), (1L, 500L, 1L, 2L),        // gap 500 <= 1000: same session
      (1L, 2000L, 2L, 1L),                          // gap 1500 > 1000: new session
      (1L, 2400L, 2L, 2L), (1L, 2800L, 2L, 3L),     // 400-gaps chain on
      (2L, 100L, 1L, 1L)                            // fresh key restarts at 1/1
    ), got)
  }

  test("intervalOverlapJoin: exactly-once per overlapping pair, point touch, negatives") {
    import spark.implicits._
    val l = Seq((1L, 0L, 10L), (2L, 5L, 30L), (3L, 100L, 100L))
      .toDF("lid", "lo_a", "hi_a")
    val r = Seq(("x", 8L, 20L), ("y", -5L, 0L), ("z", 31L, 40L))
      .toDF("rid", "lo_b", "hi_b")
    // width=4 makes overlapping pairs share several grid cells — the
    // report-once rule must still emit each pair exactly once
    val rows = graft.operators.Joins.intervalOverlapJoin(l, "lo_a", "hi_a", r, "lo_b", "hi_b", 4L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows.size == 3, rows)  // no k-cell duplicates
    assert(rows.toSet == Set(
      (1L, "x"),  // plain overlap spanning cells
      (1L, "y"),  // point touch at 0, negative-lo interval
      (2L, "x")   // [5,30]x[8,20]: containment counts as overlap
    ), rows)
  }

  test("snapshotDiff: added/removed/changed classified, unchanged dropped, nulls null-safe") {
    import spark.implicits._
    val old = Seq(
      (1L, Some("a"), Some(10L)),   // unchanged -> dropped
      (2L, Some("b"), Some(20L)),   // changed (cents)
      (3L, None, Some(30L)),        // unchanged with null field -> dropped
      (4L, Some("d"), None),        // removed
      (5L, Some("e"), Some(50L))    // changed: value becomes null
    ).toDF("k", "t", "cents")
    val cur = Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("b"), Some(21L)),
      (3L, None, Some(30L)),
      (5L, Some("e"), None),
      (6L, Some("f"), Some(60L))    // added
    ).toDF("k", "t", "cents")
    val got = graft.operators.Relational.snapshotDiff(old, cur, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "changed"), (4L, "removed"), (5L, "changed"), (6L, "added")), got)
  }

  test("latestByKey keeps exactly the max-order row per key") {
    val out = Keyed.latestByKey(ev, Seq("k"), Seq("tus"))
      .select("k", "tus", "v").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((1L, 4000L, 40.0), (2L, 2500L, 15.0)))
  }

  test("chunk assigns 0-based fixed-size chunks per key in order") {
    val out = Keyed.chunk(ev, Seq("k"), Seq("tus"), 2)
      .select("k", "tus", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, 1000L, 0L), (1L, 2000L, 0L), (1L, 3000L, 1L), (1L, 4000L, 1L),
      (2L, 1500L, 0L), (2L, 2500L, 0L)))
  }

  test("skipTake and throttle select the right per-key rows") {
    val st = Keyed.skipTake(ev, Seq("k"), Seq("tus"), skip = 1, take = 2)
      .select("k", "tus").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(st == Set((1L, 2000L), (1L, 3000L), (2L, 2500L)))
    val th = Keyed.throttle(ev, Seq("k"), Seq("tus"), every = 2)
      .select("k", "tus").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(th == Set((1L, 1000L), (1L, 3000L), (2L, 1500L)))
  }

  test("lagWindow emits only full buffers, oldest..newest") {
    val out = Windows.lagWindow(ev, Seq("k"), Seq("tus"), "v", 3)
      .select("k", "tus", "v_2", "v_1", "v_0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSet == Set(
      (1L, 3000L, 10.0, 20.0, 30.0),
      (1L, 4000L, 20.0, 30.0, 40.0)))
  }

  test("intervalJoin matches |dt| < W per key, each pair exactly once") {
    val l = ev.select(col("k").as("lk"), col("ts").as("lts"), col("tus").as("ltus"))
    val r = ev.select(col("k").as("rk"), col("ts").as("rts"), col("tus").as("rtus"))
    val out = Joins.intervalJoin(l, r, "lk", "rk", "lts", "rts", 1500L)
      .select("ltus", "rtus").collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute-force expectation on the same data
    val rows = Seq((1L, 1000L), (1L, 2000L), (1L, 3000L), (1L, 4000L), (2L, 1500L), (2L, 2500L))
    val expect = for {
      (ka, ta) <- rows; (kb, tb) <- rows
      if ka == kb && math.abs(ta - tb) < 1500L
    } yield (ta, tb)
    assert(out.sorted.toSeq == expect.sorted)
  }

  test("asofJoin picks latest right <= left ts with order tiebreak") {
    import spark.implicits._
    val l = Seq((1L, 3000L), (1L, 1000L), (2L, 500L)).toDF("k", "tus")
      .withColumn("ts", timestamp_micros(col("tus")))
    val r = Seq((1L, 1000L, 100L, "a"), (1L, 1000L, 200L, "b"), (1L, 2500L, 300L, "c"))
      .toDF("rk", "rtus", "ord", "payload")
      .withColumn("rts", timestamp_micros(col("rtus")))
    val out = Joins.asofJoin(l, r, "k", "rk", "ts", "rts", "ord", Seq("payload"))
      .select("k", "tus", "payload").collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSet
    assert(out == Set(
      (1L, 3000L, Some("c")),
      (1L, 1000L, Some("b")), // tie on ts → larger ord wins
      (2L, 500L, None)))
  }

  test("asofJoinForward picks first right >= left ts; tolerance and no-match null out") {
    import spark.implicits._
    val l = Seq((1L, 1000L), (1L, 2600L), (2L, 500L)).toDF("k", "tus")
      .withColumn("ts", timestamp_micros(col("tus")))
    val r = Seq((1L, 1000L, 200L, "tie"), (1L, 1000L, 100L, "tieLow"),
        (1L, 2500L, 300L, "c"), (1L, 9000L, 400L, "far"))
      .toDF("rk", "rtus", "ord", "payload")
      .withColumn("rts", timestamp_micros(col("rtus")))
    val out = Joins.asofJoinForward(l, r, "k", "rk", "ts", "rts", "ord", Seq("payload"),
        toleranceUs = Some(7000L))
      .select("k", "tus", "payload").collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSet
    assert(out == Set(
      (1L, 1000L, Some("tieLow")), // same-ts match; tie → smaller ord wins
      (1L, 2600L, Some("far")),    // next at 9000, gap 6400us <= 7000us
      (2L, 500L, None)))           // key has no right rows at all
    // tighter tolerance nulls the far match
    val tight = Joins.asofJoinForward(l, r, "k", "rk", "ts", "rts", "ord", Seq("payload"),
        toleranceUs = Some(1000L))
      .select("k", "tus", "payload").collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSet
    assert(tight == Set(
      (1L, 1000L, Some("tieLow")),
      (1L, 2600L, None),
      (2L, 500L, None)))
  }

  test("stratifiedSample and budgetCut edge rates/budgets") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, "g")).toDF("id", "g")
    // rate 1000 keeps everything, rate 0 keeps nothing
    assert(Relational.stratifiedSample(df, "id", lit(1000)).count() == 100L)
    assert(Relational.stratifiedSample(df, "id", lit(0)).count() == 0L)
    // budget 0 keeps nothing; huge budget keeps everything, cum is exact
    val wdf = df.withColumn("wt", lit(3L))
    assert(Relational.budgetCut(wdf, "g", "id", "wt", budget = 0L).isEmpty)
    val all = Relational.budgetCut(wdf, "g", "id", "wt", budget = 1000L)
    assert(all.count() == 100L)
    assert(all.agg(max("cum_wt")).head().getLong(0) == 300L)
  }

  test("budgetCut keep-set and cums are invariant under the bucket-prefix width knob") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).map(i => (i, s"g${i % 3}", i % 7)).toDF("id", "g", "wt")
    // single-window reference: the exact semantics the two-phase walk must keep
    val w = Window.partitionBy("g").orderBy(md5(col("id").cast("string")), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ref = df.withColumn("cum_wt", sum(col("wt")).over(w))
      .filter(col("cum_wt") <= 40L)
    for (chars <- Seq(1, 2, 3)) {
      val got = Relational.budgetCut(df, "g", "id", "wt", budget = 40L, prefixChars = chars)
      assert(got.except(ref).isEmpty && ref.except(got).isEmpty,
        s"prefixChars=$chars diverged from the single-window reference")
    }
  }

  test("shuffleOrder permutation is invariant under the bucket-prefix width knob") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w2 = Relational.shuffleOrder(docs, "doc_id", prefixChars = 2)
    val w3 = Relational.shuffleOrder(docs, "doc_id", prefixChars = 3)
    assert(w2.except(w3).isEmpty && w3.except(w2).isEmpty,
      "widening the bucket prefix changed the global order")
    // auto width (default) must land on the SAME permutation
    val wAuto = Relational.shuffleOrder(docs, "doc_id")
    assert(wAuto.except(w2).isEmpty && w2.except(wAuto).isEmpty,
      "auto-sized bucket prefix changed the global order")
  }

  test("autoPrefixChars keeps expected bucket sorts bounded across scales") {
    // ≤256M rows fit 256 buckets of ≤1M; ~10^9 rows pick 3; a 100 TB
    // row count (~10^11) picks 5; the width never exceeds 8
    assert(Relational.autoPrefixChars(60000L) == 2)
    assert(Relational.autoPrefixChars(256000000L) == 2)
    assert(Relational.autoPrefixChars(1000000000L) == 3)
    assert(Relational.autoPrefixChars(100000000000L) == 5)
    assert(Relational.autoPrefixChars(Long.MaxValue) == 8)
  }

  test("asofJoinForward accepts plain numeric timestamps") {
    import spark.implicits._
    val l = Seq((1L, 1000L)).toDF("k", "ts")
    val r = Seq((1L, 1500L, 1L, "hit")).toDF("rk", "rts", "ord", "payload")
    val out = Joins.asofJoinForward(l, r, "k", "rk", "ts", "rts", "ord", Seq("payload"))
      .select("k", "payload", "match_ts_us").collect()
    assert(out.length == 1 && out(0).getString(1) == "hit" && out(0).getLong(2) == 1500L)
  }

  test("saltedJoin returns exactly the plain join's rows") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dk", "tier")
    val plain = ev.join(dim, ev("k") === dim("dk")).select("tus", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = Joins.saltedJoin(ev, dim, "k", "dk", "tus", salt = 4).select("tus", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain)
  }

  test("graft SQL functions are callable from spark.sql") {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet").limit(20).createOrReplaceTempView("sqldocs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_simhash32(filter(split(regexp_replace(lower(text), '[(),";:\'.]', ''), '\\s+'), x -> x != '')) AS sim
         FROM sqldocs""").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
      .select(col("doc_id"), graft.functions.DedupFns.simhash32Fast(
        graft.functions.TextFns.tokens(col("text"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaApi)
    val qd = spark.sql("SELECT graft_qdot(graft_quantize(array(1.0F, 2.0F)), graft_quantize(array(3.0F, 4.0F)))")
      .collect()(0).getLong(0)
    assert(qd == 1000L * 3000 + 2000L * 4000)
  }

  test("branch labels each row by first matching predicate") {
    val out = Relational.branch(ev, Seq("big" -> (col("v") >= 30), "mid" -> (col("v") >= 15)))
      .select("v", "branch").collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(out == Set((10.0, "other"), (20.0, "mid"), (30.0, "big"), (40.0, "big"),
      (5.0, "other"), (15.0, "mid")))
  }

  test("merge unions by name") {
    val a = ev.filter(col("k") === 1)
    val b = ev.filter(col("k") === 2)
    assert(Relational.merge(a, b).count() == ev.count())
  }

  test("connectedComponents converges chains and keeps components disjoint") {
    import spark.implicits._
    // component {1..5} as a chain (diameter forces several iterations),
    // component {10, 11}, singleton edges absent → node 20 not present
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Relational.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: scrambled 128-node chain converges in O(log n) star rounds") {
    import spark.implicits._
    // a path whose ids are NOT in path order (i -> (i*53 mod 128)+1 is a
    // permutation), so the min sits mid-chain — the worst case for
    // one-hop label propagation (127 rounds); star contraction must
    // finish in O(log n).
    val ids = (0 until 128).map(i => ((i * 53) % 128) + 1L)
    val chain = ids.zip(ids.tail).toDF("id_a", "id_b")
    val (labels, rounds) =
      Relational.connectedComponentsWithRounds(chain, "id_a", "id_b")
    assert(rounds <= 10, s"expected O(log n) star rounds on a 128-chain, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 128 && got.forall(_._2 == 1L))
  }

  test("connectedComponents: two stars sharing a leaf are ONE component (isStar regression)") {
    import spark.implicits._
    // {(0,3),(1,3)}: no source appears as a destination, so a
    // two-level-only convergence test wrongly stops before the first
    // round — node 3 got TWO label rows and 0/1 split into two
    // clusters. The single-parent condition forces the round that
    // merges them.
    val got = Relational.connectedComponents(
        Seq((0L, 3L), (1L, 3L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 3, s"duplicate label rows: ${got.toSeq}")
    assert(got.toMap == Map(0L -> 0L, 1L -> 0L, 3L -> 0L))
    // the post-contraction variant of the same shape (review example)
    val pairs2 = Seq((0L, 4L), (1L, 7L), (3L, 6L), (4L, 7L), (5L, 6L), (5L, 7L))
      .toDF("id_a", "id_b")
    val got2 = Relational.connectedComponents(pairs2, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got2.length == 7 && got2.forall(_._2 == 0L), got2.toSeq.toString)
  }

  test("connectedComponents: self-loop-only nodes label themselves") {
    import spark.implicits._
    val pairs = Seq((7L, 7L), (1L, 2L)).toDF("id_a", "id_b")
    val got = Relational.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("triangleCounts: 4-clique gives 3 per node, chains give none, each triangle counted once") {
    import spark.implicits._
    // K4 on {1..4} (4 triangles, each node in 3), a triangle {10,11,12}
    // sharing no nodes, and a chain 20-21-22 (zero triangles)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val got = Relational.triangleCounts(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("kCore: 3-core keeps exactly the K4, peels triangle-with-pendant and chains; extra rounds no-op") {
    import spark.implicits._
    // K4 on {1..4}; triangle {10,11,12} + pendant 13 (a 2-core but not
    // a 3-core); chain 20-21-22 (no 2-core at all); bridge 4-20 links
    // the chain to the K4 without changing either core
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (4L, 20L)).toDF("id_a", "id_b")
    val core3 = Relational.kCore(pairs, "id_a", "id_b", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3)
    val core2 = Relational.kCore(pairs, "id_a", "id_b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2-core: K4 (degrees still 3 within it) + the bare triangle
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 2L, 11L -> 2L, 12L -> 2L), core2)
    // monotone peel: more rounds than needed change nothing
    val core3Long = Relational.kCore(pairs, "id_a", "id_b", k = 3, rounds = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3Long == core3)
  }

  test("graph loops: their own edge build answers as prebuilt symEdges state on self-loops, duplicates and reversed pairs") {
    import spark.implicits._
    // triangle 1-2-3 given twice over ((1,2) duplicated, (2,1) and
    // (3,1) reversed), a self-loop on 3, a tail 3-4-5 and a node 9
    // whose only edge is a self-loop
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 3L),
      (3L, 4L), (4L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    val sym = Relational.symEdges(pairs, "id_a", "id_b")
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val seed = col("id") % 2 === 1
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cases = Seq(
      "pageRank" -> (Relational.pageRank(pairs, "id_a", "id_b", 3),
        Relational.pageRank(pairs, "id_a", "id_b", 3, Some((sym, deg)))),
      "personalizedPageRank" -> (Relational.personalizedPageRank(pairs, "id_a", "id_b", seed, 3),
        Relational.personalizedPageRank(pairs, "id_a", "id_b", seed, 3, Some((sym, deg)))),
      "labelPropagation" -> (Relational.labelPropagation(pairs, "id_a", "id_b", 3),
        Relational.labelPropagationWithEdges(pairs, "id_a", "id_b", 3, Some(sym))._1),
      "kCore" -> (Relational.kCore(pairs, "id_a", "id_b", k = 2),
        Relational.kCore(pairs, "id_a", "id_b", k = 2, prebuiltSym = Some(sym))),
      "bfsHops" -> (Relational.bfsHops(pairs, "id_a", "id_b", col("id") === 1L, maxHops = 3),
        Relational.bfsHops(pairs, "id_a", "id_b", col("id") === 1L, maxHops = 3, Some(sym))))
    for ((name, (own, prebuilt)) <- cases) {
      val got = rows(own)
      assert(got == rows(prebuilt), s"$name: own edge build disagrees with prebuilt state")
      assert(got.nonEmpty && !got.contains(9L), s"$name: self-loop-only node 9 got a row: $got")
    }
    assert(sym.filter(col("src") === col("dst")).isEmpty)
    assert(sym.count() == 10L) // 5 undirected edges, both directions
  }

  test("pageRank and personalizedPageRank plans stay flat past the cut cadence (iters=12 no deeper than iters=4)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("id_a", "id_b")
    val walks = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (i => Relational.pageRank(pairs, "id_a", "id_b", i)),
      "personalizedPageRank" ->
        (i => Relational.personalizedPageRank(pairs, "id_a", "id_b", col("id") === 1L, i)))
    for ((name, walk) <- walks) {
      def planDepth(iters: Int): Int =
        walk(iters).queryExecution.optimizedPlan.collect { case p => p }.size
      val d4 = planDepth(4)
      val d12 = planDepth(12)
      assert(d12 <= d4 + 2,
        s"$name: iters=12 plan ($d12 nodes) nests rounds the cut should have truncated (iters=4: $d4)")
    }
  }

  test("driven loops leave persisted only the checkpoints their returned frame reads") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val ids = (0 until 128).map(i => ((i * 53) % 128) + 1L)
    val chain = ids.zip(ids.tail).toDF("id_a", "id_b")
    // prebuilt state is the caller's, made before any snapshot below
    val sym = Relational.symEdges(chain, "id_a", "id_b")
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // each at a depth that fires cuts: walks past 2 × WalkCadence
    // rounds, a 2-core peel that loses two chain ends per round
    val runs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "connectedComponents" -> (() => Relational.connectedComponents(chain, "id_a", "id_b")),
      "pageRank" -> (() => Relational.pageRank(chain, "id_a", "id_b", 12, Some((sym, deg)))),
      "personalizedPageRank" -> (() => Relational.personalizedPageRank(chain, "id_a", "id_b",
        col("id") % 5 === 0, 12, Some((sym, deg)))),
      "labelPropagation" -> (() =>
        Relational.labelPropagationWithEdges(chain, "id_a", "id_b", 12, Some(sym))._1),
      "kCore" -> (() => Relational.kCore(chain, "id_a", "id_b", k = 2, rounds = 20,
        prebuiltSym = Some(sym))),
      "bfsHops" -> (() => Relational.bfsHops(chain, "id_a", "id_b", col("id") % 7 === 0,
        maxHops = 5, Some(sym))),
      "kmeansTrain2" -> (() => graft.functions.VectorFns.kmeansTrain2(emb, "vec_id", "embedding",
        kCentroids = 16, rounds = 3, assignProbes = 1)))
    for ((name, run) <- runs) {
      val before = persistentIds
      val out = run()
      val gained = persistentIds -- before
      val read = GraftBridge.checkpointRddIds(out)
      assert(gained.nonEmpty, s"$name: no checkpoint behind its result")
      assert(gained.subsetOf(read), s"$name: left checkpoints its result never reads: ${gained -- read}")
      assert(out.count() > 0L, s"$name: empty result")
    }
  }

  test("Width.computeDense pins compute-dense shuffles at 3 × defaultParallelism") {
    val w = graft.functions.Width.computeDense(spark)
    assert(w == 3 * spark.sparkContext.defaultParallelism)
    // q_gap_fill's explode input carries exactly that width
    val widths = Queries.queries("q_gap_fill")(spark, sfDir).queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r.numPartitions
    }
    assert(widths.contains(w), s"repartition widths: $widths")
  }
}
