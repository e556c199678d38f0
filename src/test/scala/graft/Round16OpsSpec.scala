package graft

import org.apache.spark.sql.functions._
import graft.functions.{DedupFns, Multimodal, VectorFns}
import graft.operators.{Joins, Relational}

/** Round-16 pins, one per VERDICT/ADVICE r15 item:
  *  - BPE learn-chain memo: memo read == cold rebuild (VERDICT item 1);
  *  - count-only encode agrees with the fingerprinted encode row-by-row
  *    (VERDICT item 3);
  *  - TokenMat flag: absent table and stale table FAIL LOUDLY, fresh
  *    table serves exact parity (VERDICT item 4 + ADVICE freshness);
  *  - sweepLineOverlapTotals: own-key overlap fails loudly (incl. the
  *    closed-interval touching case), null keys are excluded from BOTH
  *    event and probe roles (VERDICT item 6 + ADVICE null-keys);
  *  - kmeansTrain2 truncated probing: assigned coverage equals the
  *    corpus — the new row-loss guard passes on complete geometry
  *    (ADVICE row-loss);
  *  - labelPropagation at checkpoint-cadence iters matches a
  *    plain-Scala reference (the lineage cuts are value-neutral —
  *    ADVICE final-cut);
  *  - multimodal perceptual-hash near-dup: the whole operator vs a
  *    plain-Scala brute force (signatures AND the exact pair set), plus
  *    CharGramsExpr vs the declarative sliding-substring form.
  */
class Round16OpsSpec extends SparkSpecBase {

  // ---- BPE learn-chain memo (VERDICT r15 item 1) --------------------------

  test("BPE learn chain: memo read == cold rebuild for merges/apply/encode_counts") {
    def canon(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val names = Seq("q_bpe_merges", "q_bpe_apply", "q_bpe_encode_counts")
    val first = names.map(canon) // first call builds the memo, rest ride it
    val memoRead = names.map(canon) // pure memo reads
    assert(memoRead === first, "memo read diverged from the building pass")
    Queries.clearSessionMemos() // frees every frame; next call rebuilds cold
    val cold = names.map(canon)
    assert(cold === first, "cold rebuild diverged from the memoized results")
  }

  test("q_bpe_encode_counts == q_bpe_encode minus the fingerprint, row for row") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("doc_id", "n_words", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val full = canon(SparkEntry.queries("q_bpe_encode")(spark, sfDir))
    val counts = canon(SparkEntry.queries("q_bpe_encode_counts")(spark, sfDir))
    assert(counts === full)
    assert(counts.nonEmpty && counts.map(_._3).sum >= counts.map(_._2).sum,
      "subword tokens must be >= words")
  }

  // ---- TokenMat loud fallback + freshness (VERDICT item 4, ADVICE) --------

  test("tokenmat flag: absent table fails loudly, stale table fails loudly, fresh table is exact parity") {
    val table = "graft_tokens_sf0_001"
    def canonBm25(): Seq[String] =
      SparkEntry.queries("q_bm25")(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val off = canonBm25()
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.conf.set("spark.graft.tokenmat", "1")
    try {
      val absent = intercept[IllegalStateException] { canonBm25() }
      assert(absent.getMessage.contains("does not exist"),
        s"wrong absent-table message: ${absent.getMessage}")
      TokenMat.materialize(spark, sfDir, table)
      assert(canonBm25() === off, "flag-on result != flag-off result on a fresh table")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.doc_count' = '1')")
      val stale = intercept[IllegalStateException] { canonBm25() }
      assert(stale.getMessage.contains("STALE"),
        s"wrong stale-table message: ${stale.getMessage}")
    } finally {
      spark.conf.set("spark.graft.tokenmat", "0")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  // ---- sweep-line guards (VERDICT item 6 + ADVICE null keys) --------------

  test("sweepLineOverlapTotals fails loudly on own-key overlap, including a touching pair") {
    import spark.implicits._
    val overlapping = Seq(("u1", 0L, 10L), ("u1", 5L, 20L), ("u2", 0L, 3L))
      .toDF("k", "lo", "hi")
    val e1 = intercept[IllegalArgumentException] {
      Joins.sweepLineOverlapTotals(overlapping, "k", "lo", "hi", width = 8L)
    }
    assert(e1.getMessage.contains("pairwise disjoint"))
    // closed intervals: touching own-key endpoints intersect at a point
    val touching = Seq(("u1", 0L, 5L), ("u1", 5L, 9L)).toDF("k", "lo", "hi")
    val e2 = intercept[IllegalArgumentException] {
      Joins.sweepLineOverlapTotals(touching, "k", "lo", "hi", width = 8L)
    }
    assert(e2.getMessage.contains("pairwise disjoint"))
    // an overlap hiding BEHIND the immediate predecessor (a long earlier
    // interval) must also be caught — the check runs against the max
    // preceding hi, not just lag(hi)
    val spanning = Seq(("u1", 0L, 100L), ("u1", 101L, 102L), ("u1", 103L, 150L),
      ("u1", 104L, 105L)).toDF("k", "lo", "hi")
    val e3 = intercept[IllegalArgumentException] {
      Joins.sweepLineOverlapTotals(spanning, "k", "lo", "hi", width = 64L)
    }
    assert(e3.getMessage.contains("pairwise disjoint"))
    // structurally-guaranteed callers can skip the extra pass
    Joins.sweepLineOverlapTotals(overlapping, "k", "lo", "hi", width = 8L,
      checkDisjoint = false).collect(): Unit
  }

  test("sweepLineOverlapTotals drops null-key intervals from BOTH roles, like the pair oracle") {
    import spark.implicits._
    // the null-key interval [0,100] would overlap everything; the pair
    // join this operator replaces (a.k < b.k) never counts it — neither
    // may the sweep, in the rank sums OR the active-count integral
    val in = Seq((Option("u1"), 0L, 10L), (Option.empty[String], 0L, 100L),
      (Option("u2"), 5L, 15L), (Option("u2"), 50L, 60L), (Option("u3"), 55L, 58L))
      .toDF("k", "lo", "hi")
    val got = Joins.sweepLineOverlapTotals(in, "k", "lo", "hi", width = 7L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // brute force over non-null keys: (u1,u2): [5,10] len 5; (u2,u3): [55,58] len 3
    assert(got === Seq(("u1", 1L, 5L), ("u2", 2L, 8L), ("u3", 1L, 3L)))
  }

  test("sweepLineOverlapTotals matches the naive pair join on a random disjoint-interval set") {
    import spark.implicits._
    // deterministic adversarial set: per key, sorted gap-separated
    // intervals with mixed widths, many exact endpoint ties ACROSS keys
    val rnd = new scala.util.Random(1613)
    val rows = (0 until 40).flatMap { k =>
      var t = rnd.nextInt(50).toLong
      (0 until (1 + rnd.nextInt(6))).map { _ =>
        val lo = t
        val hi = lo + 1 + rnd.nextInt(30)
        t = hi + 1 + rnd.nextInt(12) // strictly disjoint own-key
        (s"k$k", lo, hi)
      }
    }
    val df = rows.toDF("k", "lo", "hi")
    val got = Joins.sweepLineOverlapTotals(df, "k", "lo", "hi", width = 16L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val brute = (for {
      a <- rows; b <- rows if a._1 != b._1
      ov = math.min(a._3, b._3) - math.max(a._2, b._2) if ov >= 0
    } yield (a._1, 1L, ov)).groupBy(_._1)
      .map { case (k, xs) => (k, (xs.map(_._2).sum, xs.map(_._3).sum)) }
    assert(got.keySet === brute.keySet)
    brute.foreach { case (k, (n, len)) =>
      assert(got(k) === ((n, len)), s"mismatch at key $k")
    }
  }

  // ---- kmeansTrain2 truncated-path coverage (ADVICE row-loss) -------------

  test("kmeansTrain2 truncated probing: assigned coverage equals the corpus (row-loss guard holds)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.filter(col("embedding").isNotNull).count()
    for ((k, probes, rounds) <- Seq((9, 1, 2), (16, 2, 2), (25, 1, 1))) {
      val res = VectorFns.kmeansTrain2(e, "vec_id", "embedding",
        kCentroids = k, rounds = rounds, assignProbes = probes).collect()
      assert(res.map(_.getLong(1)).sum === n,
        s"k=$k probes=$probes: coverage != corpus (guard should have thrown)")
    }
  }

  // ---- LPA lineage cuts are value-neutral (ADVICE) -------------------------

  test("labelPropagation at checkpoint-cadence iters matches a plain-Scala reference") {
    import spark.implicits._
    // path 1..12 + 4-clique 20..23 bridged at 12-20, plus an isolated
    // dumbbell 30-31: enough rounds that Iterate.walk's lineage cuts
    // fire (iters = 9 → cuts after rounds 4 and 8)
    val pairs: Seq[(Long, Long)] =
      (1L to 11L).map(i => (i, i + 1)) ++
        Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L), (22L, 23L),
          (12L, 20L), (30L, 31L))
    def brute(iters: Int): Map[Long, Long] = {
      val sym = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      var lab = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        val prev = lab
        lab = adj.map { case (v, ns) =>
          val votes = ns.groupBy(prev).toSeq.map { case (l, xs) => (-xs.size.toLong, l) }
          v -> votes.min._2
        }
      }
      lab
    }
    for (iters <- Seq(3, 9, 12)) {
      val got = Relational.labelPropagation(pairs.toDF("a", "b"), "a", "b", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === brute(iters), s"LPA divergence at iters=$iters")
    }
  }

  // ---- multimodal perceptual-hash near-dup --------------------------------

  /** Plain-Scala twin of Multimodal.phash32 (round 17 pixel-block
    * form): 32 code-point position blocks lo_j = ⌊j·L/32⌋, intensity =
    * first 4 md5 digest bytes of the block as big-endian unsigned, bit
    * j set iff intensity_j·32 > Σ intensities. Deliberately a
    * different traversal than the kernel (code-point ARRAY here vs the
    * kernel's offsetByCodePoints cursor walk).
    */
  private def brutePhash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cps = s.codePoints().toArray
    val L = cps.length
    val ints = Array.tabulate(32) { j =>
      val lo = (j.toLong * L / 32).toInt
      val hi = ((j + 1).toLong * L / 32).toInt
      md.reset()
      val d = md.digest(new String(cps, lo, hi - lo).getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val sum = ints.sum
    (0 until 32).map(j => if (ints(j) * 32L > sum) 1L << j else 0L).sum
  }

  test("phash32 == plain-Scala brute force, and CharGramsExpr == the declarative sliding substring") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat", // near-dup
      "the quick brown fox jumps over the lazy dog", // exact dup
      "completely different payload bytes here, nothing shared at all",
      "emoji 😀📦 payload 😀 beyond the BMP", // supplementary-plane code points
      "abc", // shorter than the block count: trailing blocks empty
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"),
        Multimodal.phash32(col("text").cast("binary")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === brutePhash(t), s"phash mismatch on '$t'")
    }
    assert(got(5L) === brutePhash("abc")) // defined below 4 chars (queries filter, the hash doesn't)
    assert(got(6L) === 0L, "all-blocks-equal (empty) payload hashes to 0 under strict >")
    // kernel parity: CharGramsExpr == transform(sequence(...), substring)
    // the declarative twin needs a length guard: sequence(1, 0) DESCENDS
    // ([1, 0]) instead of being empty — the exact artifact the kernel's
    // m < n early-exit avoids
    val declarative = df.select(col("id"), expr(
      """CASE WHEN length(text) >= 4
         THEN transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))
         ELSE array() END""").as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val kernel = df.select(col("id"), org.apache.spark.sql.GraftBridge.column(
        graft.plans.CharGramsExpr(org.apache.spark.sql.GraftBridge.expression(col("text")), 4)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(kernel === declarative)
  }

  test("q_image_neardup == plain-Scala all-pairs brute force on the sf0.001 corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val sigs = docs.filter(_._2.length >= 4).map { case (id, t) => id -> brutePhash(t) }
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d.toLong)).sorted
    val got = SparkEntry.queries("q_image_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === brute)
    assert(got.nonEmpty, "corpus has near-dup payloads; the miner must find them")
    // report-once: no duplicate pairs from multi-band matches
    assert(got.map(p => (p._1, p._2)).distinct.size === got.size)
  }
}
