package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextFns._

/** Deduplication machinery for large text corpora: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. All signature computation is per-row pure
  * expressions (no shuffle); candidate generation is an equi-join on
  * band/bucket keys — the only scalable shape at 100 TB (never
  * all-pairs).
  */
object DedupFns {

  /** Exact-dup key: md5 of whitespace-collapsed lowercased text. */
  def exactKey(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  // ---- MinHash ----------------------------------------------------------

  /** Fixed LCG-derived permutation coefficients (SURVEY.md §4: literals
    * mirrored in the DuckDB oracle).
    */
  val MinhashA: Seq[Long] = Seq(1103527590L, 59559188L, 1163074433L, 119106031L, 1222621276L,
    178652874L, 1282168119L, 238199717L, 1341714962L, 297746560L, 1401261805L, 357293403L,
    1460808648L, 416840246L, 1520355491L, 476387089L)
  val MinhashB: Seq[Long] = Seq(22695478L, 45390955L, 68086432L, 90781909L, 113477386L,
    136172863L, 158868340L, 181563817L, 204259294L, 226954771L, 249650248L, 272345725L,
    295041202L, 317736679L, 340432156L, 363127633L)

  val NumHashes = 16
  val BandRows = 2 // 8 bands of 2 rows

  /** 16-element MinHash signature over an ALREADY-HASHED item array
    * (each element in [0, 2^31-1)): sig_i = min over items of
    * (a_i * h + b_i) mod 2^31-1. Per-row expression, no shuffle.
    * Caller must guarantee ≥1 item.
    *
    * IMPORTANT evaluation note: higher-order functions (transform/
    * aggregate) are interpreted, not codegen'd, so the input MUST be a
    * materialized column reference, not a nested expression — nesting
    * the tokenize+md5 tree here would re-evaluate it once per hash
    * function per row (16×), and once more per band downstream.
    */
  def minhashSignatureFromHashes(hashes: Column): Column = {
    val aArr = array(MinhashA.map(lit): _*)
    val bArr = array(MinhashB.map(lit): _*)
    transform(
      sequence(lit(0), lit(NumHashes - 1)),
      i =>
        aggregate(
          hashes,
          lit(Long.MaxValue),
          (m, x) => least(m, (element_at(aArr, i + 1) * x + element_at(bArr, i + 1)) % HashMod)
        )
    )
  }

  /** Band hashes for LSH: band_b = (sig_{2b} * 1000003 + sig_{2b+1}) mod 2^31-1. */
  def minhashBands(sig: Column): Column =
    transform(
      sequence(lit(0), lit(NumHashes / BandRows - 1)),
      b => (element_at(sig, b * 2 + 1) * 1000003L + element_at(sig, b * 2 + 2)) % HashMod
    )

  /** One minhash: min over hashed items of (a_i*h + b_i) mod 2^31-1. */
  private def sigAgg(hashes: Column, i: Int): Column =
    aggregate(hashes, lit(Long.MaxValue),
      (m, x) => least(m, (lit(MinhashA(i)) * x + lit(MinhashB(i))) % HashMod))

  /** All 8 LSH band hashes computed directly from the hashed-item array
    * as a FLAT array of 16 independent aggregates. Flatness matters:
    * `hashes` is referenced 16 times lexically, which stops Catalyst's
    * CollapseProject from inlining the (expensive, interpreted)
    * tokenize/md5 tree that produced it — a transform-over-sequence
    * formulation references it once lexically, gets inlined, and then
    * re-evaluates the whole upstream tree per element at runtime.
    */
  def minhashBandArray(hashes: Column): Column =
    array((0 until NumHashes / BandRows).map { b =>
      (sigAgg(hashes, 2 * b) * 1000003L + sigAgg(hashes, 2 * b + 1)) % HashMod
    }: _*)

  /** Native-loop band hashes from a token-array column (see
    * graft.plans.MinhashBands for why this is ~100× faster than the
    * declarative HOF pipeline it is value-identical to).
    */
  def minhashBandsFast(toks: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.MinhashBands(GraftBridge.expression(toks), n))
  }

  /** Native-loop raw 16-element MinHash signature from a token-array
    * column (graft.plans.MinhashSig — same kernel as the bands, minus
    * the band fold).
    */
  def minhashSigFast(toks: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.MinhashSig(GraftBridge.expression(toks), n))
  }

  /** Count of agreeing positions between two signature columns
    * (graft.plans.LongArrayEqCount, codegen'd).
    */
  def sigAgreement(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.plans.LongArrayEqCount(GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** MinHash signature-overlap Jaccard ESTIMATE for every LSH candidate
    * pair: est = agree/16, emitted in exact integer milli-units. The
    * cheap streaming twin of the exact rescore (`q_minhash_rescore`) —
    * no gram arrays travel anywhere: candidates come from the band
    * equi-join and the estimator touches only the 16-long signatures,
    * joined back by id (repartition(id) so both signature lookups share
    * one exchange). At 100 TB the signature table is ~128 B/doc —
    * orders of magnitude under the gram-array rescore payload.
    */
  def minhashEstPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol)
    val sigs = Fence.guard(Fence.guard(
        df.select(col(idCol).as("id"), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) >= n)
      .select(col("id"), minhashSigFast(col("__toks"), n).as("sig")))
      .repartition(col("id"))
    cands
      .join(sigs.as("sa"), col("id_a") === col("sa.id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        sigAgreement(col("sa.sig"), col("sb.sig")).as("agree"))
      .select(col("id_a"), col("id_b"), col("agree"),
        expr(s"(agree * 1000) div $NumHashes").as("est_milli"))
  }

  /** LSH candidate pairs: docs sharing any band hash. Equi-join on
    * (band index, band hash) — shuffle-bounded, never all-pairs.
    * MinHash items are word 3-gram shingles (unigram sets collapse when
    * documents share a small vocabulary); docs with fewer than 3 tokens
    * are excluded so the empty-set signature never pairs.
    * Returns (id_a, id_b) with id_a < id_b, distinct.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // repartition on the join keys: both self-join sides then share ONE
    // exchange (ReusedExchange), so the scan + tokenize + minhash run
    // once, not once per side. shuffle_hash keeps the optimizer from
    // broadcasting a corpus-sized table (which would both break the
    // reuse and be the wrong 100 TB shape); no sort is needed.
    // the two Fences pin tokenize and minhash to ONE evaluation each:
    // without them, pushdown substitutes the size>=3 filter and the
    // generate-inferred size/isnotnull predicates into the projections
    // and the signature is hashed 3× per side
    val toksDf = Fence.guard(
        df.select(col(idCol).as("id"), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) >= 3)
    val sigs = Fence.guard(
        toksDf.select(col("id"), minhashBandsFast(col("__toks"), 3).as("__bands")))
      .select(col("id"), posexplode(col("__bands")).as(Seq("band", "bh")))
      .repartition(col("band"), col("bh"))
    val a = sigs.as("a").hint("shuffle_hash")
    val b = sigs.as("b").hint("shuffle_hash")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  // ---- SimHash ----------------------------------------------------------

  /** 32-bit SimHash over token hashes, as a single per-row expression
    * (no shuffle): bit j of the result is set iff the sum over tokens
    * of (+1 / -1 by bit j of h(t)) is positive.
    */
  def simhash32(text: Column): Column = {
    val ths = transform(tokens(text), t => tokenHash31(t))
    val sums = aggregate(
      ths,
      array_repeat(lit(0L), 32),
      (acc, th) =>
        zip_with(
          acc,
          transform(sequence(lit(0), lit(31)),
            j => when(floor(th / pow(lit(2.0), j)).cast("long") % 2 === 1, 1L).otherwise(-1L)),
          (a, b) => a + b
        )
    )
    aggregate(
      zip_with(sums, sequence(lit(0L), lit(31L)),
        (s, j) => when(s > 0, pow(lit(2.0), j).cast("long")).otherwise(0L)),
      lit(0L),
      (a, b) => a + b
    )
  }

  /** Hamming distance between two simhashes (codegen'd bit_count). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Native-loop SimHash from a token-array column (see
    * graft.plans.Simhash32) — value-identical to simhash32(text).
    */
  def simhash32Fast(toks: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.Simhash32(GraftBridge.expression(toks)))
  }

  /** EXACT SimHash near-dup pairs, hamming ≤ maxHamming (≤ 3 for the
    * 4-byte-band pigeonhole to be complete): ≤3 differing bits touch at
    * most 3 of the 4 signature bytes, so every qualifying pair shares
    * ≥1 band — candidates come from a band equi-join, never all-pairs,
    * yet the result is exact. Returns (id_a < id_b, dist).
    *
    * Shape notes: Fences pin tokenize and simhash to ONE evaluation
    * each (inferred size/isnotnull predicates otherwise re-hash every
    * row); the join-key repartition gives both self-join sides ONE
    * shared exchange (AQE ReusedExchange) and shuffle_hash prevents a
    * corpus-sized broadcast. A pair within hamming ≤ 3 can share up
    * to 4 bands, so the raw join would emit it up to 4×; instead of a
    * pair-dedup `.distinct()` (a second full shuffle of the pair
    * output) each pair is reported ONCE, at its MINIMUM matching band:
    * both join sides carry the full signature, so "no band j < k also
    * matches" is a map-side post-join predicate — duplicate-free by
    * construction, zero extra exchanges (the q_overlap_sessions
    * report-once rule).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val sims = Fence.guard(
        df.select(col(idCol).as("id"), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) > 0)
      .select(col("id"), simhash32Fast(col("__toks")).as("sim"))
    nearDupPairsFromSigs(sims, maxHamming)
  }

  /** The byte-band pigeonhole pair miner of [[simhashNearDupPairs]],
    * factored over an ALREADY-COMPUTED 32-bit signature projection so
    * any locality-sensitive signature rides the same exact candidate
    * generator — the multimodal perceptual-hash stub
    * (Multimodal.phash32) is the second caller. `sigs` is the
    * (id, sim) projection; the fence put on it here pins the
    * (expensive) signature to one evaluation per row; both
    * self-join sides then share ONE exchange (see the shape notes on
    * [[simhashNearDupPairs]]). Returns (id_a < id_b, dist), each pair
    * once, exact for maxHamming ≤ 3.
    */
  def nearDupPairsFromSigs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, s"4-byte-band pigeonhole is complete only for hamming <= 3, got $maxHamming")
    val bands = Fence.guard(sigs).select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("sim"), 8 * k).bitwiseAND(lit(255L))): _*)).as(Seq("k", "byte")))
      .repartition(col("k"), col("byte"))
    def byteAt(sim: Column, j: Int) = shiftright(sim, 8 * j).bitwiseAND(lit(255L))
    val minBand = (0 until 3).map(j =>
      col("a.k") <= j || byteAt(col("a.sim"), j) =!= byteAt(col("b.sim"), j)).reduce(_ && _)
    bands.as("a").hint("shuffle_hash")
      .join(bands.as("b").hint("shuffle_hash"),
        col("a.k") === col("b.k") && col("a.byte") === col("b.byte") && col("a.id") < col("b.id"))
      .filter(minBand)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sim"), col("b.sim")).cast("long").as("dist"))
      .filter(col("dist") <= maxHamming)
  }

  /** BOUNDED-REPORT twin of [[nearDupPairsFromSigs]] — the 9e → 9e2
    * precedent (q_overlap_sessions → q_overlap_counts) applied to the
    * signature pair family: per ID, how many near-dup pairs it
    * participates in and its closest distance. Each pair that survives
    * the miner collapses into its TWO ENDPOINTS immediately (a 2-array
    * posexplode-free inline explode), and count/min partial-aggregate
    * map-side before the single post-join exchange — output and that
    * exchange are ID-sized at ANY scale, while the pair report grows
    * with the (corpus-dependent, potentially superlinear) pair count.
    * The band-join mining cost itself is unchanged — candidate
    * generation is the operator's contract; what this removes is the
    * output-bound term. Pair query = drill-down surface; this = the
    * sweep-at-scale member.
    */
  def nearDupCountsFromSigs(sigs: DataFrame, maxHamming: Int): DataFrame =
    nearDupPairsFromSigs(sigs, maxHamming)
      .select(explode(array(
        struct(col("id_a").as("id"), col("dist")),
        struct(col("id_b").as("id"), col("dist")))).as("e"))
      .select(col("e.id").as("id"), col("e.dist").as("dist"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_neardups"), min(col("dist")).as("min_dist"))

  // ---- n-gram Jaccard ---------------------------------------------------

  /** Distinct word n-grams over an ALREADY-MATERIALIZED token array
    * column. The lambda references `toks` per shingle — if `toks` were
    * the tokenize expression instead of a column, interpreted HOF
    * evaluation (no common-subexpression elimination) would re-tokenize
    * the text once per shingle: O(tokens²) regex work per row.
    * Empty array (not a descending-sequence artifact) when the doc has
    * fewer than n tokens.
    */
  def wordNgramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))
        )
      )
    ).otherwise(array().cast("array<string>"))

  /** Convenience for small data / tests; in pipelines, materialize
    * `tokens(text)` as a column first and use wordNgramsFromTokens.
    */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsFromTokens(tokens(text), n)

  /** Native one-pass distinct n-grams (see plans.NgramsExpr) —
    * value-identical to wordNgramsFromTokens; use in hot pipelines (the
    * declarative form pays one interpreted lambda per shingle).
    */
  def wordNgramsFast(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.NgramsExpr(GraftBridge.expression(toks), n))
  }

  /** POSITIONAL (non-distinct) n-grams: one entry per window start,
    * array index = token position — for span-run analysis where
    * consecutive-position structure matters (plans.PosNgramsExpr).
    */
  def wordNgramsPositional(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.PosNgramsExpr(GraftBridge.expression(toks), n))
  }

  /** Serialized bloom filter over xxhash64 of a gram column —
    * distributed build (stat.bloomFilter's treeAggregate; the driver
    * holds only the final filter bits, sized by the gram count).
    * Probe map-side with GraftBridge.bloomMightContain(bytes,
    * xxhash64(g)): same putLong/mightContainLong hashing on both ends.
    */
  def gramBloomBytes(grams: DataFrame, gramCol: String, fpp: Double = 0.01): Array[Byte] = {
    val h = grams.select(xxhash64(col(gramCol)).as("h"))
    val n = math.max(h.count(), 1L)
    val bf = h.stat.bloomFilter("h", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** JVM-lifetime memo of serialized probe bloom filters, keyed by the
    * caller's probe-set identity. The probe set (a benchmark suite)
    * changes on release cadence while decontam passes run per-ingest,
    * so the filter is a BUILD-ONCE artifact: at production scale it
    * would be written next to the probe set and loaded, not rebuilt per
    * pass — this memo gives a long-lived session the same skip (the
    * sizing count + treeAggregate build run once; repeat calls are a
    * map lookup). Entries are small (the filter is ~1.2 bytes/element
    * at fpp 0.01) and keys are few (one per probe set), so no eviction.
    *
    * The caller's `key` must name the probe DATA identity (dir + probe
    * definition + gram width) and must change whenever the probe data
    * changes (e.g. a test regenerating parquet at the same path within
    * one JVM must vary the key) — a stale filter means false negatives,
    * i.e. MISSED decontamination kills, not just wasted work. Build
    * parameters that alter the filter itself (`fpp`) are folded into
    * the memo key here, so the same probe set at two fpp settings never
    * aliases.
    */
  def gramBloomBytesCached(key: String, grams: => DataFrame, gramCol: String,
      fpp: Double = 0.01): Array[Byte] =
    graft.SessionMemo.scalar("bloom", None, s"$key@fpp=$fpp")(gramBloomBytes(grams, gramCol, fpp))

  /** Exact n-gram Jaccard over candidate pairs.
    *
    * Candidate generation is an equi-join on *rare* grams only: grams
    * with document frequency > `maxDf` are dropped before pairing (the
    * hot-key quadratic blowup on frequent grams — "of the" — never
    * happens), and candidates must share ≥ `minShared` rare grams.
    * The reported (inter, uni) are then EXACT over the full distinct
    * n-gram sets of each candidate pair via array_intersect — pruning
    * only affects which pairs are considered, not their scores.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      maxDf: Int = 50, minShared: Int = 2): DataFrame = {
    // Fences pin tokenize and the shingle array to one evaluation each
    // (see functions.Fence)
    val docs = Fence.guard(Fence.guard(
        df.select(col(idCol).as("id"), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) >= n)
      .select(col("id"), wordNgramsFast(col("__toks"), n).as("grams")))
    // ONE gram exchange feeds the df-aggregation AND both self-join
    // sides (ReusedExchange) — without it the tokenize+shingle work and
    // the frequency aggregation both run once per reference (5× total).
    // The df-filter table is tiny (rare grams only) → broadcast; the
    // post-join stream stays partitioned by g, so the self-join adds no
    // further shuffle.
    val grams = docs.select(col("id"), explode(col("grams")).as("g"))
      .repartition(col("g"))
    // (the df-count branch prunes `id` from its subtree, so it cannot
    // share the self-join sides' exchange — it is one extra pass over
    // the grams, computed once and reused for both sides at runtime)
    val rare = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val rareGrams = grams.join(broadcast(rare), "g")
    val cands = rareGrams.as("a").hint("shuffle_hash")
      .join(rareGrams.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b")
    // the exact-rescore joins share one id-partitioned doc exchange too
    val docsP = docs.repartition(col("id"))
    cands
      .join(docsP.as("da"), col("id_a") === col("da.id"))
      .join(docsP.as("db"), col("id_b") === col("db.id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("da.grams"), col("db.grams"))).cast("long").as("inter"),
        (size(col("da.grams")) + size(col("db.grams")) -
          size(array_intersect(col("da.grams"), col("db.grams")))).cast("long").as("uni"))
  }

  /** All edit-distance-1 term pairs in the corpus vocabulary, via the
    * SymSpell deletion-neighborhood (Garbe 2012; the spelling-variant /
    * OCR-noise miner): every term meets its single-character deletions,
    * and two terms within one edit ALWAYS share a neighborhood entry
    * (insert → the inserted char's deletion on one side; substitute →
    * the same position's deletion on both; delete → the term itself).
    * So an equi-join on the variant string is a COMPLETE candidate
    * generator — never all-pairs, never a length-bucket cross join —
    * and the exact `levenshtein` verify only ever runs on candidates.
    * Blowup is bounded: ≤ len+1 variants per VOCABULARY term (the
    * distinct-token table, orders of magnitude smaller than the
    * corpus; the distinct() is its one shuffle). The variant transform
    * is a higher-order function (interpreted, not codegen'd) — fine
    * here because it runs per vocabulary term, not per corpus token.
    */
  def typoPairs(df: DataFrame, textCol: String,
      minLen: Int = 4, maxLen: Int = 12): DataFrame = {
    val vocab = df.select(explode(tokensFast(col(textCol))).as("t"))
      .filter(length(col("t")).between(minLen, maxLen))
      .distinct()
    val variants = vocab.select(col("t"), explode(array_distinct(concat(
        array(col("t")),
        transform(sequence(lit(1), length(col("t"))), i =>
          concat(col("t").substr(lit(1), i - lit(1)),
            col("t").substr(i + lit(1), length(col("t")))))))).as("v"))
    variants.as("a").hint("shuffle_hash")
      .join(variants.as("b").hint("shuffle_hash"),
        col("a.v") === col("b.v") && col("a.t") < col("b.t"))
      .select(col("a.t").as("term_a"), col("b.t").as("term_b"))
      .distinct()
      .filter(levenshtein(col("term_a"), col("term_b")) === 1)
  }

  /** Set-similarity self-join with PPJoin-style PREFIX FILTERING
    * (Chaudhuri, Ganti & Kaushik 2006; Xiao et al. 2008) over distinct
    * word n-gram shingle sets (n = 1 → raw token sets): order every
    * doc's set by ascending global document frequency (rarest
    * first, tie-broken by the token string — one global total order),
    * and join only on each doc's first |s| − ⌈τ·|s|⌉ + 1 tokens. Two
    * sets with Jaccard ≥ τ MUST share a prefix token under a common
    * order, so the candidate set is complete — and far smaller than
    * joining on every rare token (the [[ngramJaccardPairs]] generator):
    * a 1000-token doc at τ=0.5 exposes 501 join rows instead of 1000,
    * and the rarest-first order makes those the lowest-collision
    * tokens. Exact integer Jaccard rescore on candidates only; emits
    * pairs with `inter·1000 ≥ uni·tauPermille` (never a float
    * threshold). The per-doc rank window partitions on the
    * high-cardinality doc id — no coarse-key sort anywhere.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tauPermille: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauPermille > 0 && tauPermille <= 1000, s"bad tau: $tauPermille")
    // set elements: distinct word n-gram shingles (n = 1 → the raw
    // token set). Fences pin tokenize and the shingle array to one
    // evaluation each: the array feeds the explode AND both
    // exact-rescore joins
    val docs = Fence.guard(Fence.guard(
        df.select(col(idCol).as("id"), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) >= n)
      .select(col("id"),
        (if (n == 1) array_distinct(col("__toks")) else wordNgramsFast(col("__toks"), n)).as("toks")))
      .filter(size(col("toks")) > 0)
    // one tok exchange feeds the df-aggregation and the ranked join
    // side. `sz` rides from the doc projection (the shingle array is
    // distinct, so |set| = size(toks)) — computing it as a second
    // count-over-partition window would add a whole extra WindowExec
    // pass over every token row.
    val toks = docs.select(col("id"), explode(col("toks")).as("tok"), size(col("toks")).as("sz"))
      .repartition(col("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("tok"))
    val pre = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      // prefix length |s| - ceil(τ|s|) + 1, all-integer ceil
      .filter(col("rn") <= col("sz") - expr(s"(sz * $tauPermille + 999) div 1000") + 1)
      .select("id", "tok", "rn", "sz")
    // PPJoin candidate pruning (Xiao et al. 2008 §3) — the full
    // asymmetric scheme, all cheap predicates on state the prefix rows
    // already carry. Pairs are oriented size-smaller-side-first
    // ((sz, id) lexicographic), which unlocks PPJoin's INDEXING-PREFIX
    // cut: for a true pair x ≤ y (by size), overlap ≥ α =
    // ⌈τ/(1+τ)(|x|+|y|)⌉, and α ≥ ⌈2τ/(1+τ)·|x|⌉ (|y| ≥ |x|) while
    // α ≥ ⌈τ·|y|⌉ (|x| ≥ τ|y| — the length filter every true pair
    // passes). The first shared token therefore sits within x's
    // (|x|−⌈2τ/(1+τ)|x|⌉+1)-prefix AND y's (|y|−⌈τ|y|⌉+1)-prefix (both
    // are supersets of the α-prefixes the first-shared-token lemma
    // bounds), so joining x's SHORTER indexing prefix against y's
    // probing prefix stays complete — at τ=0.5 the indexing prefix is
    // |x|/3 instead of |x|/2, a multiplicative cut in join rows.
    //  - LENGTH filter: a.sz ≥ τ·b.sz (a is the smaller side);
    //  - POSITIONAL filter: the first shared token's prefix-side
    //    overlap is exactly 1, so overlap ≤ 1 + min(|x|−i, |y|−j);
    //    rows failing the α bound drop, the first-shared-token row of
    //    every true pair survives → post-distinct completeness holds
    //    while common-prefix groups stop exploding quadratically.
    // The indexing-prefix cut must NOT split the join sides into two
    // differently-filtered subtrees — that would compute the token
    // window pipeline twice and shuffle it twice. One explicit
    // repartition(tok) materializes the prefix rows ONCE; the fenced
    // projection above it is a pushdown barrier, so the a-side cut
    // stays a post-shuffle filter over the SHARED exchange (AQE reuse)
    // instead of sinking below it.
    val denom = 1000 + tauPermille
    val preShared = Fence.guard(
      pre.repartition(col("tok"))
        .select(col("id"), col("tok"), col("rn"), col("sz")))
    val preA = preShared.filter(
      col("rn") <= col("sz") - expr(s"(2 * $tauPermille * sz + ${denom - 1}) div $denom") + 1)
    // The pair aggregation replaces a bare `distinct()` with PPJoin+'s
    // suffixal pruning (Xiao et al. 2008 §4's purpose, re-expressed on
    // aggregate state so no token ARRAY ever travels through the
    // candidate join): under the consistent global (df, tok) order,
    // every shared token outside the matched prefix rows sorts strictly
    // AFTER the last matched row in BOTH documents (were it inside
    // either prefix before that row, it would itself be a matched row).
    // Hence overlap ≤ cnt + min(sa − max_rn_a, sb − max_rn_b) — a
    // strictly tighter upper bound than the single-row positional
    // filter whenever a pair shares ≥ 2 prefix tokens — and pairs whose
    // bound misses α = ⌈τ/(1+τ)(sa+sb)⌉ die BEFORE the exact-rescore
    // join ships any shingle array. The aggregate costs what the
    // distinct() already paid (one hash shuffle on the pair key).
    val cands = preA.as("a").hint("shuffle_hash")
      .join(preShared.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))) &&
          expr(s"a.sz * 1000 >= b.sz * $tauPermille") &&
          expr(s"1 + least(a.sz - a.rn, b.sz - b.rn) >= " +
            s"($tauPermille * (a.sz + b.sz) + ${denom - 1}) div $denom"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
      .agg(count(lit(1)).as("cnt"),
        max(col("a.rn")).as("mra"), max(col("b.rn")).as("mrb"),
        min(col("a.sz")).as("sa"), min(col("b.sz")).as("sb"))
      .filter(expr(s"cnt + least(sa - mra, sb - mrb) >= " +
        s"($tauPermille * (sa + sb) + ${denom - 1}) div $denom"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        (col("sa") + col("sb")).as("szsum"))
    val docsP = docs.select(col("id"), col("toks")).repartition(col("id"))
    // Explicit partition count on the PAIR side: the rescore stage is
    // BYTE-small (one (id_a, id_b, counters) row per candidate) but
    // COMPUTE-dense — one array_intersect per pair — so AQE's
    // byte-based coalescing squeezed it to 2 tasks (3.0 s of the
    // 3.6 s sf0.1 bench time). The docs sides broadcast, so the pair
    // frame DRIVES the stage (see Width).
    val rescoreParts = Width.computeDense(df.sparkSession)
    // sizes rode through the aggregate, so the union is arithmetic
    // (|x|+|y|−inter) and array_intersect evaluates ONCE per pair
    cands.repartition(rescoreParts, col("id_a"))
      .join(docsP.as("da"), col("id_a") === col("da.id"))
      .join(docsP.as("db"), col("id_b") === col("db.id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("da.toks"), col("db.toks"))).cast("long").as("inter"),
        col("szsum"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("szsum") - col("inter")).cast("long").as("uni"))
      .filter(col("inter") * 1000 >= col("uni") * tauPermille)
      .withColumn("jac_milli", expr("inter * 1000 div uni"))
  }

  /** Gaps-and-islands collapse of per-position dup flags — the
    * spans → islands reduction every substring-dedup consumer shares
    * (round 17: memoized once per (session, dir) as
    * `Queries.spanIslandState`, since the runs / coverage / excision
    * views are all pure functions of this SMALL frame): input one row
    * per positional w-gram (doc_id, pos, __dup ∈ {0,1}); output one
    * row per (doc_id, island) — `__isl` NULL collects the non-dup
    * positions — with `__cnt` positions in the group and the dup
    * islands' [__s, __e] start-position extent. Run length, interval
    * union and the excision island array all derive from (cnt, s, e);
    * total spans per doc is Σ__cnt over ALL groups (the null island
    * carries the non-dup count), so nothing needs the positional frame
    * back. One doc_id exchange + sort — the expensive per-doc pass —
    * happens HERE, once.
    */
  def spanIslandize(flags: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("doc_id").orderBy(col("pos"))
    flags
      .withColumn("__rnd", sum(col("__dup")).over(wd))
      .withColumn("__isl", when(col("__dup") === 1L, col("pos") - col("__rnd")))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(count(lit(1)).as("__cnt"), min(col("pos")).as("__s"), max(col("pos")).as("__e"))
  }

  /** The interval-union clip walk over an islandized frame (the second
    * half of `spanCoverage`): islands closer than w clip at the
    * previous island's end+w−1, making the sum the exact union length.
    * The clip window partitions on (doc_id, island IS NULL) so the
    * null-island row can never be a lag predecessor. Input frames are
    * island-sized (docs × islands ≪ spans), so every exchange here is
    * small at any scale.
    */
  def spanCoverageFromIslands(byIsl: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wl = Window.partitionBy(col("doc_id"), col("__isl").isNull).orderBy(col("__s"))
    byIsl
      .withColumn("__pe", lag(col("__e"), 1).over(wl))
      .withColumn("__cov",
        when(col("__isl").isNotNull,
          col("__e") + lit(w - 1L) -
            greatest(col("__s"), coalesce(col("__pe") + lit(w.toLong), col("__s"))) + lit(1L))
          .otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg((sum(col("__cnt")) + lit(w - 1L)).as("n_tokens"), sum(col("__cov")).as("dup_tokens"))
  }

  /** Exact interval-union token coverage from per-position dup flags
    * (the island walk shared by batch `q_span_scrub` and the streaming
    * incremental twin — one implementation, so their parity is
    * structural): input one row per positional w-gram
    * (doc_id, pos, __dup ∈ {0,1}); output (doc_id, n_tokens,
    * dup_tokens) where dup_tokens is the EXACT union of the flagged
    * windows' [p, p+w−1] token footprints. Composed from the shared
    * islandize + clip-walk halves, so the batch memo path
    * (`Queries.spanIslandState` → `spanCoverageFromIslands`) runs
    * byte-identical logic.
    */
  def spanCoverage(flags: DataFrame, w: Int = 8): DataFrame =
    spanCoverageFromIslands(spanIslandize(flags), w)
}
