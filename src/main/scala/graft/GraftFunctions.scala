package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{BlockHash32, CharGramsExpr, FingerprintExpr, IvfProbesExpr, LangScores, LongArrayEqCount, LshBucketsExpr, MinhashBands, MinhashSig, NgramsExpr, OuterMoments, QDot, QuantizeVec, Simhash32, TextStats, TokenLogit}

/** SQL-surface registration of graft's native expressions, so the
  * engine's extensions are first-class in `spark.sql(...)` exactly like
  * built-ins — the reference's users get a pure-SQL entry point.
  *
  * Registered functions:
  *   graft_minhash_bands(tokens)   → array<bigint> (8 LSH band hashes)
  *   graft_minhash_sig(tokens)     → array<bigint> (16 signature minima)
  *   graft_eq_count(a, b)          → bigint (agreeing positions)
  *   graft_simhash32(tokens)       → bigint
  *   graft_quantize(vec)           → array<bigint> (floor(x*1000))
  *   graft_qdot(a, b)              → bigint (integer dot product)
  *   graft_lsh_buckets(qv, t, p)   → array<bigint> (t bucket ids)
  *   graft_ivf_probes(qv, cents, n)→ array<bigint> (n nearest centroid idxs)
  *   graft_lang_scores(tokens)     → array<bigint> (stopword hits per lang)
  *   graft_text_stats(text)        → array<bigint> [ws_tokens, punct, bpe]
  *   graft_fingerprint(tokens)     → bigint (rolling polynomial hash)
  *   graft_ngrams(tokens, n)       → array<string> (distinct word n-grams)
  *   graft_char_grams(text, n)     → array<string> (sliding char n-grams — the payload-signature shingle)
  *   graft_token_logit(tokens[, b]) → bigint (hashed linear-model logit)
  *   graft_outer_moments(qv)       → array<bigint> (upper-tri products + components)
  *   graft_kll_agg(v[, k])         → binary (mergeable KLL quantiles sketch)
  *   graft_kll_union_agg(sk[, k])  → binary (union of KLL sketches)
  *   graft_kll_quantile(sk, rank)  → double (quantile estimate)
  */
object GraftFunctions {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "internal")

  private def intLiteral(e: Expression, what: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  /** Exact-arity guard: a wrong argument count is a clean usage error
    * naming the function, never a raw head-of-empty-Seq exception, and
    * surplus arguments are rejected instead of silently ignored.
    */
  private def arity(name: String, n: Int, usage: String)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args =>
      if (args.length == n) build(args)
      else throw new IllegalArgumentException(s"$name expects $usage")

  private val fns: Seq[(String, Class[_], String, Seq[Expression] => Expression)] = Seq(
    ("graft_minhash_bands", classOf[MinhashBands],
      "_FUNC_(tokens) - 8 MinHash LSH band hashes over word 3-gram shingles",
      arity("graft_minhash_bands", 1, "(tokens)")(args => MinhashBands(args.head, 3))),
    ("graft_minhash_sig", classOf[MinhashSig],
      "_FUNC_(tokens) - raw 16-element MinHash signature over word 3-gram shingles",
      arity("graft_minhash_sig", 1, "(tokens)")(args => MinhashSig(args.head, 3))),
    ("graft_eq_count", classOf[LongArrayEqCount],
      "_FUNC_(a, b) - count of agreeing positions between two bigint arrays",
      arity("graft_eq_count", 2, "(a, b)")(args => LongArrayEqCount(args.head, args(1)))),
    ("graft_simhash32", classOf[Simhash32],
      "_FUNC_(tokens) - 32-bit SimHash of the token array",
      arity("graft_simhash32", 1, "(tokens)")(args => Simhash32(args.head))),
    ("graft_quantize", classOf[QuantizeVec],
      "_FUNC_(vec) - floor(x*1000) integer quantization of a float vector",
      arity("graft_quantize", 1, "(vec)")(args => QuantizeVec(args.head))),
    ("graft_qdot", classOf[QDot],
      "_FUNC_(a, b) - integer dot product of two quantized vectors",
      arity("graft_qdot", 2, "(a, b)")(args => QDot(args.head, args(1)))),
    ("graft_lsh_buckets", classOf[LshBucketsExpr],
      "_FUNC_(qv, tables, planes) - LSH bucket ids of a quantized vector",
      (args: Seq[Expression]) => args match {
        case Seq(v) => LshBucketsExpr(v, 8, 4)
        case Seq(v, t, p) =>
          LshBucketsExpr(v, intLiteral(t, "tables"), intLiteral(p, "planes"))
        case _ => throw new IllegalArgumentException("graft_lsh_buckets(qv[, tables, planes])")
      }),
    ("graft_fingerprint", classOf[FingerprintExpr],
      "_FUNC_(tokens) - rolling polynomial fingerprint of the token sequence",
      arity("graft_fingerprint", 1, "(tokens)")(args => FingerprintExpr(args.head))),
    ("graft_char_grams", classOf[CharGramsExpr],
      "graft_char_grams(text, n) - every sliding substring of length n",
      arity("graft_char_grams", 2, "(text, n)")(args =>
        CharGramsExpr(args.head, intLiteral(args(1), "n")))),
    ("graft_blockhash32", classOf[BlockHash32],
      "graft_blockhash32(text) - 32-bit pixel-block perceptual hash (md5-derived block intensities, above-mean bits)",
      arity("graft_blockhash32", 1, "(text)")(args => BlockHash32(args.head))),
    ("graft_ngrams", classOf[NgramsExpr],
      "_FUNC_(tokens, n) - distinct space-joined word n-grams",
      arity("graft_ngrams", 2, "(tokens, n)")(args =>
        NgramsExpr(args.head, intLiteral(args(1), "n")))),
    ("graft_token_logit", classOf[TokenLogit],
      "_FUNC_(tokens[, buckets]) - hashed-bag linear classifier logit (default 4096 slots)",
      (args: Seq[Expression]) => args match {
        case Seq(t) => TokenLogit(t, 4096)
        case Seq(t, b) =>
          val buckets = intLiteral(b, "buckets")
          if (buckets < 1) throw new IllegalArgumentException(
            s"graft_token_logit: buckets must be >= 1, got $buckets")
          TokenLogit(t, buckets)
        case _ => throw new IllegalArgumentException("graft_token_logit(tokens[, buckets])")
      }),
    ("graft_outer_moments", classOf[OuterMoments],
      "_FUNC_(qv) - upper-triangle products then components of a quantized vector (covariance sufficient statistics)",
      arity("graft_outer_moments", 1, "(qv)")(args => OuterMoments(args.head))),
    ("graft_text_stats", classOf[TextStats],
      "_FUNC_(text) - one-pass raw-text stats [ws_tokens, punct, bpe]",
      arity("graft_text_stats", 1, "(text)")(args => TextStats(args.head))),
    ("graft_lang_scores", classOf[LangScores],
      "_FUNC_(tokens) - per-language stopword hit counts (sorted lang order)",
      arity("graft_lang_scores", 1, "(tokens)")(args => LangScores(args.head))),
    ("graft_kll_agg", classOf[graft.plans.KllSketchAgg],
      "_FUNC_(v[, k]) - mergeable KLL quantiles sketch of double v (serialized)",
      (args: Seq[Expression]) => args match {
        case Seq(v) => graft.plans.KllSketchAgg(v, 200)
        case Seq(v, k) => graft.plans.KllSketchAgg(v, intLiteral(k, "k"))
        case _ => throw new IllegalArgumentException("graft_kll_agg(v[, k])")
      }),
    ("graft_kll_union_agg", classOf[graft.plans.KllUnionAgg],
      "_FUNC_(sketch[, k]) - union-merge of serialized KLL sketches",
      (args: Seq[Expression]) => args match {
        case Seq(v) => graft.plans.KllUnionAgg(v, 200)
        case Seq(v, k) => graft.plans.KllUnionAgg(v, intLiteral(k, "k"))
        case _ => throw new IllegalArgumentException("graft_kll_union_agg(sketch[, k])")
      }),
    ("graft_kll_quantile", classOf[graft.plans.KllQuantile],
      "_FUNC_(sketch, rank) - quantile estimate of a serialized KLL sketch at rank in [0, 1]",
      (args: Seq[Expression]) => args match {
        case Seq(v, r) =>
          val rank = {
            if (!r.foldable) throw new IllegalArgumentException(
              s"rank must be a numeric literal, got ${r.sql}")
            r.eval() match {
              case n: Number => n.doubleValue()
              case other: org.apache.spark.sql.types.Decimal => other.toDouble
              case other => throw new IllegalArgumentException(
                s"rank must be a numeric literal, got $other")
            }
          }
          graft.plans.KllQuantile(v, rank)
        case _ => throw new IllegalArgumentException("graft_kll_quantile(sketch, rank)")
      }),
    ("graft_ivf_probes", classOf[IvfProbesExpr],
      "_FUNC_(qv, centroids, nprobe) - indexes of the nprobe nearest centroids (integer L2)",
      (args: Seq[Expression]) => args match {
        case Seq(v, c, n) =>
          val nprobe = intLiteral(n, "nprobe")
          if (nprobe < 1) throw new IllegalArgumentException(
            s"graft_ivf_probes: nprobe must be >= 1, got $nprobe")
          // widen SQL literal int centroids (array(array(0,0),…)) to the
          // array<array<bigint>> the kernel reads; no-op for bigint input
          IvfProbesExpr(v,
            org.apache.spark.sql.catalyst.expressions.Cast(
              c, org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))),
            nprobe)
        case _ => throw new IllegalArgumentException("graft_ivf_probes(qv, centroids, nprobe)")
      }))

  // the Misra-Gries heavy-hitters UDAF: the typed Aggregator wraps into
  // a ScalaAggregator AggregateExpression via functions.udaf, so it can
  // go through the SAME FunctionRegistry/injectFunction path as the
  // native expressions — both `GraftFunctions.register(spark)` and
  // `--conf spark.sql.extensions=graft.GraftExtensions` expose
  // SELECT graft_heavy_hitters(tok) ... GROUP BY src
  private val hhName = "graft_heavy_hitters"
  private def hhInfo = info(classOf[graft.functions.MisraGries], hhName,
    "_FUNC_(token) - Misra-Gries heavy-hitters sketch (32 counters) as (token, count) pairs")
  private def hhBuilder: Seq[Expression] => Expression =
    arity(hhName, 1, "(token)") { args =>
      org.apache.spark.sql.GraftBridge.aggregatorExpression(
        new graft.functions.MisraGries(32),
        org.apache.spark.sql.Encoders.STRING, hhName, args)
    }

  // Count-Min sketch UDAF (4×256): SELECT graft_cms(tok) ... GROUP BY g
  // returns the flat counter matrix; probe with the md5-affine hashes
  // (see q_cms_freq for the probe-side column arithmetic)
  private val cmsName = "graft_cms"
  private def cmsInfo = info(classOf[graft.functions.CountMin], cmsName,
    "_FUNC_(token) - Count-Min sketch (4x256 counters) as a flat bigint array")
  private def cmsBuilder: Seq[Expression] => Expression =
    arity(cmsName, 1, "(token)") { args =>
      org.apache.spark.sql.GraftBridge.aggregatorExpression(
        new graft.functions.CountMin(4, 256),
        org.apache.spark.sql.Encoders.STRING, cmsName, args)
    }

  /** Idempotently register all graft SQL functions on a session. */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    fns.foreach { case (name, clazz, usage, builder) =>
      reg.registerFunction(FunctionIdentifier(name), info(clazz, name, usage), builder)
    }
    reg.registerFunction(FunctionIdentifier(hhName), hhInfo, hhBuilder)
    reg.registerFunction(FunctionIdentifier(cmsName), cmsInfo, cmsBuilder)
  }

  private[graft] def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    fns.foreach { case (name, clazz, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(clazz, name, usage), builder))
    }
    ext.injectFunction((FunctionIdentifier(hhName), hhInfo, hhBuilder))
    ext.injectFunction((FunctionIdentifier(cmsName), cmsInfo, cmsBuilder))
  }
}

/** Canonical extensions entry point: the graft SQL functions and the
  * planner strategy of the optimizer fence (graft.functions.Fence).
  * `GraftSession.builder` applies it; on a cluster,
  * `--conf spark.sql.extensions=graft.GraftExtensions` does the same
  * in every session — no code change needed on the user side.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.injectInto(ext)
    ext.injectPlannerStrategy(_ => graft.functions.FenceStrategy)
  }
}
