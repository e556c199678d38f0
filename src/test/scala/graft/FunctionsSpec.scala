package graft

import org.apache.spark.sql.functions._
import graft.functions._

class FunctionsSpec extends SparkSpecBase {

  private def one[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getAs[T]("r")
  }

  test("tokens normalizes per the reference word-count pipeline") {
    import spark.implicits._
    val out = Seq("The (quick), \"brown\" fox; isn't here.").toDF("text")
      .select(TextFns.tokens(col("text")).as("t")).collect()(0).getSeq[String](0)
    assert(out == Seq("the", "quick", "brown", "fox", "isnt", "here"))
  }

  test("wordNgrams is empty below n tokens and distinct above") {
    import spark.implicits._
    val df = Seq("a b", "a b c d", "x y x y x y").toDF("text")
      .select(DedupFns.wordNgrams(col("text"), 3).as("g"))
    val gs = df.collect().map(_.getSeq[String](0))
    assert(gs(0).isEmpty)
    assert(gs(1) == Seq("a b c", "b c d"))
    assert(gs(2).toSet == Set("x y x", "y x y")) // distinct
  }

  test("langId picks stopword-scored language, und for no hits") {
    import spark.implicits._
    val out = Seq("the cat is in the bag", "el perro es un animal", "zzz qqq", "")
      .toDF("text").select(TextFns.langId(col("text")).as("l")).collect().map(_.getString(0))
    assert(out(0) == "en")
    assert(out(1) == "es")
    assert(out(2) == "und")
    assert(out(3) == "und")
  }

  test("fingerprint is order-sensitive and stable") {
    import spark.implicits._
    val fps = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextFns.fingerprint(col("text")).as("f")).collect().map(_.getLong(0))
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
    assert(fps.forall(f => f >= 0 && f < TextFns.HashMod))
  }

  test("bpeTokenCount counts alpha runs as ceil(len/4), others as 1") {
    import spark.implicits._
    val n = Seq("hello world9 x!").toDF("text")
      .select(TextFns.bpeTokenCount(col("text")).as("n")).collect()(0).getLong(0)
    // hello=2, world=2, 9=1, x=1, !=1
    assert(n == 7)
  }

  test("simhash of identical texts matches; near savings in hamming") {
    import spark.implicits._
    val df = Seq("spark window join table", "spark window join table", "totally different words here")
      .toDF("text").select(DedupFns.simhash32(col("text")).as("s"))
    val s = df.collect().map(_.getLong(0))
    assert(s(0) == s(1))
    val d = one[Int](DedupFns.hamming(lit(s(0)), lit(s(2))))
    assert(d > 0)
  }

  test("minhash LSH pairs exact duplicates and skips tiny docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated text about spark query engines at scale"),
      (4L, "ab") // < 3 tokens → excluded
    ).toDF("doc_id", "text")
    val pairs = DedupFns.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("native TokensExpr matches the declarative tokens()") {
    import spark.implicits._
    val tricky = Seq(
      "The (quick), \"brown\" fox; isn't here.",
      "  leading and   multiple   spaces\tand\ttabs\n",
      "", "   ", "...", "a.b,c", "ONE")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
      .limit(200).collect().map(_.getString(0)).toSeq
    val df = (tricky ++ corpus).toDF("text")
    val fast = df.select(TextFns.tokensFast(col("text")).as("t")).collect().map(_.getSeq[String](0))
    val slow = df.select(TextFns.tokens(col("text")).as("t")).collect().map(_.getSeq[String](0))
    fast.zip(slow).zipWithIndex.foreach { case ((f, s), i) =>
      assert(f == s, s"row $i: $f != $s")
    }
  }

  test("native PosNgramsExpr matches the declarative positional transform; keeps duplicates in order") {
    import spark.implicits._
    val df = (Seq(
      "a b c a b c a b",        // repeated trigrams must appear at every position
      "one two", "", "x y z w") // short arrays give empty, exact-length gives 1
      ).toDF("text")
      .select(TextFns.tokens(col("text")).as("toks"))
    val fast = df.select(DedupFns.wordNgramsPositional(col("toks"), 3).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    val slow = df.select(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>")).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    assert(fast.toList == slow.toList)
    assert(fast(0).size == 6 && fast(0).distinct.size == 3) // positional, NOT distinct
    assert(fast(1).isEmpty && fast(2).isEmpty && fast(3).size == 2)
  }

  test("native Simhash32 expression matches the declarative simhash32") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val base = docs.select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val fast = base.select(col("doc_id"), DedupFns.simhash32Fast(col("toks")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = base.select(col("doc_id"), DedupFns.simhash32(col("text")).cast("long").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("native MinhashBands expression matches the declarative HOF pipeline") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val base = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val fast = base.select(col("doc_id"), DedupFns.minhashBandsFast(col("toks"), 3).as("b"))
    val slow = base
      .select(col("doc_id"), DedupFns.wordNgramsFromTokens(col("toks"), 3).as("g"))
      .select(col("doc_id"), transform(col("g"), t => TextFns.tokenHash31(t)).as("h"))
      .select(col("doc_id"), DedupFns.minhashBandArray(col("h")).as("b"))
    val f = fast.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val s = slow.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(f == s)
    assert(f.nonEmpty)
  }

  test("native MinhashSig matches the declarative signature; sigAgreement counts exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val base = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val fast = base.select(col("doc_id"), DedupFns.minhashSigFast(col("toks"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val slow = base
      .select(col("doc_id"), DedupFns.wordNgramsFromTokens(col("toks"), 3).as("g"))
      .select(col("doc_id"), transform(col("g"), t => TextFns.tokenHash31(t)).as("h"))
      .select(col("doc_id"), DedupFns.minhashSignatureFromHashes(col("h")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fast == slow)
    assert(fast.nonEmpty && fast.values.forall(_.size == DedupFns.NumHashes))
    // agreement: exact positional equality count; null on ragged lengths
    val ag = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L))).toDF("a", "b")
      .select(DedupFns.sigAgreement(col("a"), col("b"))).head()
    assert(ag.getLong(0) == 2L)
    val ragged = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(DedupFns.sigAgreement(col("a"), col("b"))).head()
    assert(ragged.isNullAt(0))
  }

  test("ngramJaccardPairs computes exact intersection over full gram sets") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), // grams: abc bcd cde
      (2L, "a b c d x"), // grams: abc bcd cdx → shares 2
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val out = DedupFns.ngramJaccardPairs(docs, "doc_id", "text", 3, maxDf = 50, minShared = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(out((1L, 2L)) == ((2L, 4L))) // inter=2, union=4
    assert(!out.contains((1L, 3L)))
  }

  test("typoPairs finds every distance-1 shape (sub/ins/del), excludes transpositions and distance 2") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello helo world worlds abcd abce"),
      (2L, "acbd zzzz xy")  // acbd = transposition of abcd (distance 2); xy under minLen
    ).toDF("doc_id", "text")
    val got = DedupFns.typoPairs(docs, "text", 4, 12)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("abcd", "abce"),   // substitution
      ("hello", "helo"),  // insertion/deletion ("hello" < "helo": 'l' < 'o' at pos 4)
      ("world", "worlds") // trailing insertion
    ), got)
  }

  test("prefixJaccardPairs: complete at tau, prefix excludes below-tau, exact integer rescore") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),     // J(1,2) = 3/5 = 0.6 >= 0.5
      (2L, "a b c e"),
      (3L, "p q r s t u"), // disjoint from 1/2
      (4L, "a p q")        // J(4,1) = 1/6, J(4,3) = 2/7 — below tau
    ).toDF("doc_id", "text")
    val out = DedupFns.prefixJaccardPairs(docs, "doc_id", "text", 1, 500)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set((1L, 2L)), out)
    assert(out((1L, 2L)) == ((3L, 5L, 600L))) // inter=3, union=5, jac_milli=600
  }

  test("gramBloomBytesCached: one build per key, byte-stable, distinct keys isolated") {
    import spark.implicits._
    var builds = 0
    def probe = { builds += 1; Seq("alpha beta gamma delta").toDF("g") }
    val k = s"spec-bloom-${System.nanoTime()}" // fresh key per test run
    val b1 = DedupFns.gramBloomBytesCached(k, probe, "g")
    val b2 = DedupFns.gramBloomBytesCached(k, probe, "g")
    assert(builds == 1, s"memoized call re-built the filter ($builds builds)")
    assert(java.util.Arrays.equals(b1, b2))
    DedupFns.gramBloomBytesCached(s"$k-other", probe, "g")
    assert(builds == 2, "distinct probe-set keys must build independently")
  }

  test("prefixJaccardPairs equals brute force on a randomized corpus, across tau") {
    // the asymmetric indexing/probing prefix + length + positional
    // filters rest on a chain of completeness lemmas — this pins them
    // against ground truth on a corpus dense enough that every filter
    // actually prunes (30-token vocabulary, 80 docs → heavy overlap)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 30).map(i => s"w$i")
    val docs = (1L to 80L).map { id =>
      val n = 3 + rnd.nextInt(12)
      (id, rnd.shuffle(vocab).take(n).mkString(" "))
    }
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val df = docs.toDF("doc_id", "text")
    for (tau <- Seq(300, 500, 700, 1000)) {
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size; uni = (sets(a) | sets(b)).size
        if inter * 1000 >= uni * tau
      } yield (a, b)).toSet
      val got = DedupFns.prefixJaccardPairs(df, "doc_id", "text", 1, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect,
        s"tau=$tau missing=${expect -- got} spurious=${got -- expect}")
    }
  }

  test("cosine/qdot agree on direction; lsh bucket is deterministic") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)), (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b")
    val cos = df.select(VectorFns.cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(cos(0) - 1.0) < 1e-9 && math.abs(cos(1)) < 1e-9)
    val b1 = Seq(Tuple1(Array.fill(64)(0.5f))).toDF("v")
      .select(VectorFns.lshBucket(col("v")).as("b")).collect()(0).getLong(0)
    assert(b1 >= 0 && b1 < 256)
  }

  test("multimodal metadata expressions are content-addressed") {
    import spark.implicits._
    val df = Seq("hello").toDF("text").select(col("text").cast("binary").as("bin"))
    val row = df.select(
      Multimodal.byteLen(col("bin")).as("n"),
      Multimodal.magicHex(col("bin")).as("m"),
      Multimodal.contentHash(col("bin")).as("h"),
      Multimodal.fakeWidth(col("bin")).as("w")).collect()(0)
    assert(row.getAs[Int]("n") == 5)
    assert(row.getString(1) == "68656c6c") // 'hell'
    assert(row.getString(2).length == 64)
    val w = row.getInt(3); assert(w >= 1 && w <= 1024)
  }

  test("native textStats matches declarative wsTokenCount/punctCount/bpeTokenCount") {
    import spark.implicits._
    val tricky = Seq(
      "  leading and   multiple   spaces\tand\ttabs\n", "", "   ", "...",
      "a.b,c", "abc123def", "123 456", "héllo wörld — em—dash", "a1b2c3d4e5")
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").select("text")
      .limit(200).collect().map(_.getString(0)).toSeq
    val df = (tricky ++ corpus).toDF("text")
    val fast = df.select(TextFns.textStatsFast(col("text")).as("s"))
      .collect().map(_.getSeq[Long](0).toList)
    val slow = df.select(
        TextFns.wsTokenCount(col("text")).cast("long"),
        TextFns.punctCount(col("text")).cast("long"),
        TextFns.bpeTokenCount(col("text")).cast("long"))
      .collect().map(r => List(r.getLong(0), r.getLong(1), r.getLong(2)))
    fast.zip(slow).zipWithIndex.foreach { case ((f, s), i) =>
      assert(f == s, s"row $i: native=$f declarative=$s")
    }
  }

  test("native fingerprint matches the declarative rolling hash") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val fast = docs.select(col("doc_id"),
        TextFns.fingerprintFast(TextFns.tokensFast(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = docs.select(col("doc_id"), TextFns.fingerprint(col("text")).cast("long").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("native langScores matches declarative matchCount per language") {
    val langs = TextFns.Stopwords.keys.toSeq.sorted
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(col("doc_id"), TextFns.tokensFast(col("text")).as("toks"))
    val fast = docs.select(col("doc_id"), TextFns.langScoresFast(col("toks")).as("ls"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val slow = docs.select(col("doc_id") +: langs.map(l =>
        TextFns.matchCount(col("toks"), TextFns.Stopwords(l)).cast("long").as(l)): _*)
      .collect().map(r => r.getLong(0) -> langs.indices.map(i => r.getLong(i + 1)).toList).toMap
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("ivfProbes orders centroids by (distance, index) and ivfTopK is exact within cells") {
    import spark.implicits._
    val cents = typedLit(Seq(Seq(0L, 0L), Seq(1000L, 0L), Seq(0L, 1000L)))
    val df = Seq(Seq(0.9f, 0.1f), Seq(0.1f, 0.9f), Seq(0.0f, 0.0f)).toDF("v")
      .select(VectorFns.ivfProbesFast(VectorFns.quantizeFast(col("v")), cents, 2).as("p"))
    val got = df.collect().map(_.getSeq[Long](0).toList).toList
    // (0.9,0.1) → nearest centroid 1 then 0; (0.1,0.9) → 2 then 0;
    // (0,0) → exactly centroid 0, ties between 1 and 2 break on index
    assert(got == List(List(1L, 0L), List(2L, 0L), List(0L, 1L)))
  }

  test("native array kernels propagate null for null-element arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some("a"), Some("b"), Some("c"), Some("d"))),
      (Seq(Some(1.0f), None), Seq(Some("the"), None, Some("c"), Some("the")))
    ).toDF("v", "toks")
    val rows = df.select(
      VectorFns.quantizeFast(col("v")).as("q"),
      DedupFns.simhash32Fast(col("toks")).as("s"),
      DedupFns.minhashBandsFast(col("toks"), 3).as("b")).collect()
    assert(rows(0).getSeq[Long](0) == Seq(1000L, 2000L))
    assert(!rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2))
    // langScores SKIPS null tokens (matchCount's filter drops them),
    // unlike the hashing kernels above
    val ls = df.select(TextFns.langScoresFast(col("toks")).as("l")).collect()
    assert(!ls(1).isNullAt(0))
    val langs = TextFns.Stopwords.keys.toSeq.sorted
    val slow = df.select(langs.map(l =>
        TextFns.matchCount(col("toks"), TextFns.Stopwords(l)).cast("long").as(l)): _*)
      .collect()
    ls.zip(slow).foreach { case (f, s) =>
      assert(f.getSeq[Long](0).toList == langs.indices.map(i => s.getLong(i)).toList)
    }
  }

  test("native expressions stay value-correct under CODEGEN_ONLY factory mode") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val cents = typedLit(Seq(Seq(0L, 0L), Seq(1000L, 1000L)))
      val row = Seq((Seq(0.9f, 0.8f), "the cat sat on the mat")).toDF("v", "text")
        .select(
          VectorFns.qdotFast(VectorFns.quantizeFast(col("v")), VectorFns.quantizeFast(col("v"))).as("d"),
          VectorFns.lshBucketsFast(VectorFns.quantizeFast(col("v")), 2, 4).as("lsh"),
          VectorFns.ivfProbesFast(VectorFns.quantizeFast(col("v")), cents, 1).as("ivf"),
          DedupFns.simhash32Fast(TextFns.tokensFast(col("text"))).as("sim"),
          DedupFns.minhashBandsFast(TextFns.tokensFast(col("text")), 3).as("mh"),
          DedupFns.wordNgramsPositional(TextFns.tokensFast(col("text")), 3).as("pg"),
          DedupFns.minhashSigFast(TextFns.tokensFast(col("text")), 3).as("ms"),
          DedupFns.sigAgreement(
            DedupFns.minhashSigFast(TextFns.tokensFast(col("text")), 3),
            DedupFns.minhashSigFast(TextFns.tokensFast(col("text")), 3)).as("ag"),
          VectorFns.vecSubFast(VectorFns.quantizeFast(col("v")),
            typedLit(Seq(100L, -100L))).as("vs"),
          VectorFns.signBitsFast(VectorFns.vecSubFast(VectorFns.quantizeFast(col("v")),
            typedLit(Seq(1000L, 0L)))).as("sb"),
          TextFns.tokenLogitFast(TextFns.tokensFast(col("text")), 4096).as("tl"),
          VectorFns.outerMomentsFast(VectorFns.quantizeFast(col("v"))).as("om"),
          // the four kernels the sweep previously missed, each next to
          // its value-identical declarative twin (both sides run under
          // CODEGEN_ONLY, so a codegen bug in either surfaces here)
          TextFns.fingerprintFast(TextFns.tokensFast(col("text"))).as("fp"),
          TextFns.fingerprint(col("text")).as("fp_slow"),
          TextFns.langScoresFast(TextFns.tokensFast(col("text"))).as("lang"),
          TextFns.textStatsFast(col("text")).as("ts"),
          TextFns.wsTokenCount(col("text")).cast("long").as("ts_ws"),
          TextFns.punctCount(col("text")).cast("long").as("ts_punct"),
          TextFns.bpeTokenCount(col("text")).cast("long").as("ts_bpe"),
          DedupFns.wordNgramsFast(TextFns.tokensFast(col("text")), 3).as("ng"))
        .collect()(0)
      // float 0.9f = 0.8999999762…, so floor(x*1000) quantizes to 899
      assert(row.getLong(0) == 899L * 899 + 800L * 800)
      assert(row.getSeq[Long](1).size == 2)
      assert(row.getSeq[Long](2) == Seq(1L)) // (900,800) nearer (1000,1000)
      assert(!row.isNullAt(3) && row.getSeq[Long](4).size == 8)
      assert(row.getSeq[String](5) == Seq("the cat sat", "cat sat on", "sat on the", "on the mat"))
      assert(row.getSeq[Long](6).size == DedupFns.NumHashes)
      assert(row.getLong(7) == DedupFns.NumHashes.toLong) // self-agreement is total
      assert(row.getSeq[Long](8) == Seq(799L, 900L)) // (899,800) - (100,-100)
      // (899-1000, 800-0) = (-101, 800): bit0 clear (negative), bit1 set
      assert(row.getLong(9) == 2L)
      // tokenLogit: Σ over the 6-token bag of the affine slot weight —
      // replay the definition in plain Scala against the kernel
      val expectLogit = "the cat sat on the mat".split(' ').map { t2 =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val dgst = md.digest(t2.getBytes("UTF-8"))
        var v = 0L; (0 until 8).foreach(k => v = (v << 8) | (dgst(k) & 0xffL))
        val b = ((v >>> 4) % 2147483647L) % 4096L
        (b * 1103515245L + 12345L) % 2001L - 1000L
      }.sum
      assert(row.getLong(10) == expectLogit)
      // outerMoments of (899, 800): [899², 899·800, 800², 899, 800]
      assert(row.getSeq[Long](11) ==
        Seq(899L * 899, 899L * 800, 800L * 800, 899L, 800L))
      // fingerprint kernel == declarative fold (same md5 rolling hash)
      assert(row.getLong(12) == row.getLong(13))
      // langScores: only "the"×2 hits any stopword list (en) → the en
      // slot is 2 and every other slot is 0
      val langsSorted = TextFns.Stopwords.keys.toSeq.sorted
      val scores = row.getSeq[Long](14)
      assert(scores(langsSorted.indexOf("en")) == 2L, scores)
      assert(scores.sum == 2L, scores)
      // textStats kernel == the three declarative scans
      assert(row.getSeq[Long](15) == Seq(row.getLong(16), row.getLong(17), row.getLong(18)))
      // distinct trigrams of the 6-token sentence (all 4 are distinct)
      assert(row.getSeq[String](19) == Seq("the cat sat", "cat sat on", "sat on the", "on the mat"))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("autoPlanes: occupancy-tracking plane count matches the oracle bitlen formula at boundaries") {
    import graft.functions.VectorFns.autoPlanes
    // smallest P with 2^P >= ceil(n/32), floored at 4 — exact integer
    // twins of the oracle's greatest(4, length(bin(((n+31)//32)-1)))
    assert(autoPlanes(1) == 4 && autoPlanes(32) == 4 && autoPlanes(33) == 4)
    assert(autoPlanes(200) == 4)    // verify SF: unchanged vs the old fixed 4
    assert(autoPlanes(512) == 4 && autoPlanes(513) == 5)
    assert(autoPlanes(2000) == 6 && autoPlanes(2048) == 6 && autoPlanes(2049) == 7)
    assert(autoPlanes(20000) == 10)
    assert((1L << autoPlanes(1L << 30)) >= (1L << 30) / 32) // occupancy bound holds
    // monotone non-decreasing across a sweep
    val ps = (1L to 20L).map(k => autoPlanes(1L << k))
    assert(ps == ps.sorted, ps)
  }

  test("parameterized native expressions fail fast at construction on invalid params") {
    import graft.plans._
    import org.apache.spark.sql.GraftBridge
    val toks = GraftBridge.expression(TextFns.tokensFast(lit("a b c")))
    val vec = GraftBridge.expression(VectorFns.quantizeFast(typedLit(Seq(0.5f, 0.5f))))
    // the Scala API must never reach eval/codegen with a nonsense
    // parameter (the SQL surface validates separately; both entry
    // points now fail at construction)
    assertThrows[IllegalArgumentException](TokenLogit(toks, 0))
    assertThrows[IllegalArgumentException](MinhashBands(toks, 0))
    assertThrows[IllegalArgumentException](MinhashSig(toks, -1))
    assertThrows[IllegalArgumentException](NgramsExpr(toks, 0))
    assertThrows[IllegalArgumentException](PosNgramsExpr(toks, 0))
    assertThrows[IllegalArgumentException](IvfProbesExpr(vec, vec, 0))
    assertThrows[IllegalArgumentException](LshBucketsExpr(vec, 0, 4))
    assertThrows[IllegalArgumentException](LshBucketsExpr(vec, 8, 64))
  }

  test("quality score is bounded and monotone-ish in stopword density") {
    import spark.implicits._
    val q = Seq("the cat is in the bag and the dog is in the house of the cat",
      "zzzz qqqq xxxx yyyy")
      .toDF("text").select(TextFns.qualityScore(col("text")).as("q")).collect().map(_.getLong(0))
    assert(q(0) > q(1))
    assert(q.forall(x => x >= -20 && x <= 70))
  }

  private def fences(df: org.apache.spark.sql.DataFrame): Seq[GraftFence] =
    df.queryExecution.optimizedPlan.collect { case f: GraftFence => f }

  test("Fence.keepAll: identity on rows/schema; the fence survives optimization in a pruning branch") {
    // Range-backed input, not a literal Seq, so the frame optimizes like
    // a real scan (ConvertToLocalRelation folds plans over a Seq)
    val base = spark.range(1, 4).toDF("k")
      .withColumn("s", when(col("k") =!= 2, concat(lit("x"), col("k"))))
      .withColumn("v", col("k") * 10)
    val fenced = Fence.keepAll(base)
    // identity: same schema, same rows (nulls included)
    assert(fenced.schema == base.schema)
    assert(fenced.collect().toSet == base.collect().toSet)
    // the load-bearing property: a consumer that uses only ONE column
    // still carries all of them below the fence — the optimized plan
    // keeps the node, referencing every column, so pruning cannot
    // specialize the shared subtree
    val pruningConsumer = fenced.select(sum(col("v")).as("t"))
    val opt = pruningConsumer.queryExecution.optimizedPlan.toString
    val fs = fences(pruningConsumer)
    assert(fs.size == 1, opt)
    assert(fs.head.keep.map(_.name) == Seq("k", "s", "v"), opt)
    // the consumer uses only v, yet s's expression (the concat) still
    // computes below the fence — pruning could not specialize it
    assert(opt.contains("concat"), s"unused column's expression pruned through the fence:\n$opt")
    // planned as its child: the node never reaches the physical plan
    assert(!pruningConsumer.queryExecution.executedPlan.toString.contains("GraftFence"))
  }

  test("Fence.keepAll: the fence stays ABOVE a repartition and survives optimization") {
    val base = spark.range(1, 8).toDF("k").withColumn("v", col("k") * 2)
    val fenced = Fence.keepAll(base.repartition(col("k")))
    assert(fenced.collect().toSet == base.collect().toSet)
    val consumer = fenced.select(sum(col("v")).as("t"))
    val opt = consumer.queryExecution.optimizedPlan.toString
    // survives, and is NOT pushed below the repartition: the node's
    // child is the RepartitionByExpression itself
    val fs = fences(consumer)
    assert(fs.size == 1 &&
      fs.head.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression],
      s"fence was pushed through the repartition:\n$opt")
  }

  test("Fence.guard: a filter over a guarded projection stays above the node; the projection evaluates once") {
    // sha2 stands in for an expensive signature; the filter reads it
    val proj = spark.range(1, 50).toDF("k")
      .select(col("k"), sha2(col("k").cast("string"), 256).as("h"))
    def consumer(df: org.apache.spark.sql.DataFrame) =
      df.filter(substring(col("h"), 1, 1) =!= "0").select(col("k"), col("h"))
    // unfenced, Catalyst substitutes the alias into the pushed filter:
    // the signature expression appears twice — what the fence prevents
    val bare = consumer(proj).queryExecution.optimizedPlan.toString
    assert("sha2\\(".r.findAllIn(bare).size == 2, bare)
    val fenced = consumer(Fence.guard(proj))
    val opt = fenced.queryExecution.optimizedPlan
    assert("sha2\\(".r.findAllIn(opt.toString).size == 1, opt.toString)
    val filterOverFence = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.child
    }
    assert(filterOverFence.size == 1 && filterOverFence.head.isInstanceOf[GraftFence], opt.toString)
    assert(fenced.collect().toSet == consumer(proj).collect().toSet)
  }

  test("a session without graft.GraftExtensions fails loudly on a fenced frame, never drops the fence") {
    val bare = org.apache.spark.sql.BareSessionBridge.session(spark.sparkContext)
    // building a fence in such a session fails at once, naming the fix
    val e1 = intercept[IllegalStateException](Fence.guard(bare.range(3).toDF("k")))
    assert(e1.getMessage.contains("graft.GraftExtensions"), e1.getMessage)
    // a fenced plan carried into such a session fails at planning
    val fenced = Fence.keepAll(spark.range(3).toDF("k"))
    val e2 = intercept[Throwable](
      org.apache.spark.sql.BareSessionBridge.executedPlanIn(bare, fenced))
    val msgs = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("GraftFence")), msgs.mkString("\n"))
  }
}
