package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis column functions.
  *
  * Normalization follows the reference word-count pipeline: strip
  * `( ) , " . ; : '`, lowercase, split on whitespace, drop empties
  * (reference example/tpipe.rs:76-81). All hashes are *portable*: they
  * are defined over md5 (bit-identical across engines) or integer
  * polynomial folds, never over an engine-native hash — see SURVEY.md §4.
  *
  * Everything here is a pure Column expression (codegen-friendly, no
  * UDFs), so every use stays inside whole-stage codegen and shuffles
  * nothing by itself.
  */
object TextFns {

  /** Modulus for portable integer hashing: 2^31 - 1 (Mersenne prime). */
  val HashMod: Long = 2147483647L

  /** Reference punctuation set as a regex class (example/tpipe.rs:76-81). */
  val PunctClass = """[(),";:'.]"""

  def normalize(c: Column): Column = regexp_replace(lower(c), PunctClass, "")

  /** Whitespace tokens of the normalized text, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(normalize(c), "\\s+"), t => t =!= "")

  /** Native one-pass tokenizer (graft.plans.TokensExpr) — value-
    * identical to tokens(); use in hot pipelines (the declarative
    * form's empties-filter is an interpreted HOF).
    */
  def tokensFast(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.TokensExpr(GraftBridge.expression(c)))
  }

  /** Native one-pass hashed-linear-classifier logit over a token array
    * (graft.plans.TokenLogit / Kernels.tokenLogit): the fastText-style
    * hashing-trick score Σ w(h(t) mod buckets) with weights a fixed
    * affine function of the slot id — exact integers, engine-portable.
    */
  def tokenLogitFast(toks: Column, buckets: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.TokenLogit(GraftBridge.expression(toks), buckets))
  }

  /** Portable 60-bit token hash: first 15 hex digits of md5, as a long.
    * Identical in any engine that has md5 + hex parsing.
    */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** tokenHash reduced mod 2^31-1 — the input domain for minhash perms. */
  def tokenHash31(t: Column): Column = tokenHash(t) % HashMod

  /** Rolling polynomial fingerprint over the token-hash sequence:
    * h := (h * 1000003 + th) mod 2^31-1. Order-sensitive (a true
    * rolling hash), per-row, no shuffle.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => tokenHash31(t)),
      lit(0L),
      (h, x) => (h * 1000003L + x) % HashMod
    )

  /** Native one-pass fingerprint from a token-array column (see
    * plans.FingerprintExpr) — value-identical to fingerprint(text) on
    * tokens(text); use in hot pipelines (the declarative form is an
    * interpreted HOF fold with one md5 lambda call per token).
    */
  def fingerprintFast(toks: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.FingerprintExpr(GraftBridge.expression(toks)))
  }

  /** Tiny deterministic stopword lists per language for the langid
    * heuristic + quality scoring.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "en", "est", "un"),
    "de" -> Seq("der", "die", "das", "und", "in", "ist", "ein"),
    "zh" -> Seq("de", "shi", "zai", "he", "le", "you", "wo")
  )

  /** Count of tokens contained in `words`. */
  def matchCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*).cast("boolean")))

  /** Per-language stopword hit counts in ONE native pass: element i =
    * matchCount(toks, Stopwords(sortedLangs(i))) (see plans.LangScores).
    * Use in hot pipelines — the declarative matchCount is an
    * interpreted HOF evaluated once per language.
    */
  def langScoresFast(toks: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.LangScores(GraftBridge.expression(toks)))
  }

  /** Language-ID by stopword hit count; deterministic alphabetical-first
    * tie-break via greater-or-equal comparison in fixed lang order.
    * Returns "und" when no stopword of any language matches (e.g. empty
    * or non-matching text) instead of defaulting to the first language.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val langs = Stopwords.keys.toSeq.sorted
    val scores = langs.map(l => l -> matchCount(toks, Stopwords(l)))
    val best = greatest(scores.map(_._2): _*)
    val winner = scores.foldLeft(lit(null).cast("string")) { case (acc, (l, s)) =>
      when(acc.isNotNull, acc).otherwise(
        when(scores.filter(_._1 != l).map(o => s >= o._2).reduce(_ && _), lit(l)))
    }
    when(best === 0, lit("und")).otherwise(winner)
  }

  /** Composite integer quality score — all-integer arithmetic so the
    * result is bit-identical in any engine (SURVEY.md §4):
    * length score (≤40) + stopword-ratio score (≤30) − punct penalty (≤20).
    */
  def qualityScore(text: Column): Column = {
    val c = length(text).cast("long")
    val t = wsTokenCount(text).cast("long")
    val s = matchCount(tokens(text), Stopwords("en")).cast("long")
    val p = punctCount(text).cast("long")
    least(lit(40L), floorDiv(c, 10L)) + least(lit(30L), floorDiv(s * 100L, greatest(t, lit(1L)))) -
      least(lit(20L), floorDiv(p * 100L, greatest(c, lit(1L))))
  }

  /** Integer floor division on non-negative longs (portable `//`). */
  private def floorDiv(a: Column, b: Long): Column = (a / lit(b)).cast("long")
  private def floorDiv(a: Column, b: Column): Column = (a / b).cast("long")

  /** Whitespace token count on raw text. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** One-pass native raw-text stats: array<long> of
    * [ws_tokens, punct, bpe] (see plans.TextStats) — value-identical to
    * wsTokenCount / punctCount / bpeTokenCount. Use in hot pipelines:
    * the declarative forms cost two regex scans plus an interpreted
    * HOF aggregate per row.
    */
  def textStatsFast(text: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.TextStats(GraftBridge.expression(text)))
  }

  /** BPE-ish piece count: alpha runs contribute ceil(len/4) pieces,
    * digit runs and single symbols one piece each — a deterministic
    * proxy for subword tokenizer counts.
    */
  def bpeTokenCount(text: Column): Column = {
    val pieces = regexp_extract_all(text, lit("""[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""), lit(0))
    aggregate(
      pieces,
      lit(0L),
      (acc, p) =>
        acc + when(p.rlike("^[A-Za-z]+$"), ceil(length(p) / lit(4.0)).cast("long")).otherwise(1L)
    )
  }

  /** Punctuation/symbol character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""[^A-Za-z0-9\s]"""), lit(0)))

  /** Context-window chunking: one row per (doc, chunk) for `chunk`-token
    * windows advancing by `stride` (overlapping when stride < chunk),
    * each with its exact token count and an md5 content fingerprint.
    * Entirely stateless map-side work (tokenize behind a Fence, one
    * explode of the chunk starts, one slice per chunk — zero shuffles),
    * so the same transform runs unchanged in a streaming query.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      chunk: Int = 64, stride: Int = 32): org.apache.spark.sql.DataFrame =
    Fence.guard(
        df.select(col(idCol), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))).as("start"))
      .select(col(idCol), expr(s"start div $stride").cast("long").as("chunk_idx"),
        slice(col("__toks"), col("start") + 1, lit(chunk)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_md5"))

  /** Content-defined chunking, MAP-ONLY: a boundary falls where
    * tokenHash31(term) % modulus == 0 and a new chunk starts right
    * AFTER the boundary token (a position's chunk_idx = boundaries
    * strictly before it — shift-robust: an insertion re-chunks only
    * its own chunk). Chunk starts/ends are computed inside the token
    * array with higher-order functions, so there is ZERO shuffle —
    * unlike an explode + per-doc running-count window this runs
    * unchanged on a stream in append mode (parity-tested) and scales
    * embarrassingly. Output: (id, chunk_idx, n_tokens, fp), one row
    * per chunk; expected chunk length is `modulus` tokens.
    */
  def cdcChunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      modulus: Int = 8): org.apache.spark.sql.DataFrame =
    Fence.guard(
        df.select(col(idCol), tokensFast(col(textCol)).as("__toks")))
      .filter(size(col("__toks")) >= 1)
      .withColumn("__starts",
        // position p starts a chunk iff p == 0 or the previous token
        // is a boundary (1-based element_at)
        filter(sequence(lit(0), size(col("__toks")) - 1),
          // when() keeps element_at unevaluated at p = 0 (index 0 is
          // an ANSI error; Or does not guarantee short-circuit)
          p => when(p === 0, lit(true))
            .otherwise(tokenHash31(element_at(col("__toks"), p)) % modulus === 0)))
      .withColumn("__ends",
        concat(slice(col("__starts"), lit(2), size(col("__starts")) - 1),
          array(size(col("__toks")))))
      .select(col(idCol), posexplode(
        zip_with(col("__starts"), col("__ends"),
          (s, e) => slice(col("__toks"), s + 1, e - s))).as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("fp"))

  /** HTML BOILERPLATE EXTRACTION, map-only (round 17 — the
    * readability/jusText class of crawl-curation content extractor:
    * Kohlschütter et al. WSDM 2010 "Boilerplate Detection using
    * Shallow Text Features"; Pomikálek 2011 jusText): split the markup
    * into BLOCKS at block-level closing tags, score each block's LINK
    * DENSITY (anchor-text length / visible-text length), and keep
    * low-density blocks as content — navigation chrome, ad units and
    * footers are link-dense, article prose is not (the single
    * strongest shallow feature in both papers). Integer rule
    * `alen·1000 < tlen·maxLinkDensityMilli` — no division, so the
    * decision hash-checks in any engine; blocks whose tag-stripped
    * text is empty (pure markup) don't count at all.
    *
    * ZERO shuffles: block split, tag strip, anchor extraction and the
    * density filter all run inside the row (string ops + HOFs) — the
    * op is a projection, embarrassingly parallel at any corpus size.
    * Returns one row per doc: (id, n_blocks, n_kept, content_len,
    * boiler_len, content), content = kept block texts joined with
    * '\n' in document order (fingerprint-ready).
    */
  def htmlExtract(df: org.apache.spark.sql.DataFrame, idCol: String, htmlCol: String,
      maxLinkDensityMilli: Int = 300): org.apache.spark.sql.DataFrame = {
    val frags = split(col(htmlCol), "</nav>|</div>|</footer>|</p>|</li>|</h[1-6]>")
    val blocks = filter(
      transform(frags, f => {
        val txt = trim(regexp_replace(f, "<[^>]*>", ""))
        struct(txt.as("txt"),
          length(array_join(
            regexp_extract_all(f, lit("<a[^>]*>([^<]*)</a>"), lit(1)), "")).cast("long").as("alen"))
      }),
      b => length(b.getField("txt")) > 0)
    def tlenSum(arr: Column): Column =
      coalesce(aggregate(arr, lit(0L), (a, x) => a + length(x.getField("txt")).cast("long")), lit(0L))
    Fence.guard(Fence.guard(
        df.select(col(idCol), blocks.as("__b")))
      .select(col(idCol), col("__b"),
        filter(col("__b"), b =>
          b.getField("alen") * 1000 < length(b.getField("txt")).cast("long") * maxLinkDensityMilli)
          .as("__k")))
      .select(col(idCol),
        size(col("__b")).cast("long").as("n_blocks"),
        size(col("__k")).cast("long").as("n_kept"),
        tlenSum(col("__k")).as("content_len"),
        (tlenSum(col("__b")) - tlenSum(col("__k"))).as("boiler_len"),
        array_join(transform(col("__k"), b => b.getField("txt")), "\n").as("content"))
  }
}
