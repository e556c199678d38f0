package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenized-corpus materialization rehearsal (VERDICT r13 item 6).
  *
  * The plan-audit's adjudicated k-pass class (3) rests on the claim "a
  * production deployment materializes the tokenized corpus once and
  * the k-pass token pipelines read it back". This main PROVES the
  * claim with numbers: it tokenizes documents ONCE into a bucketed
  * managed table (Sinks.bucketed on doc_id — recurring doc_id
  * joins/aggs then need no exchange), re-points the three worst
  * k-pass token pipelines (q_bm25, q_ppl_buckets_scale,
  * q_tfidf_topterms) at it through their kernel seams
  * (Queries.bm25ScoresToks / bigramLmFromToks+pplBucketsScaleFrom /
  * tfidfFromToks), asserts RESULT PARITY against the tokenize-inline
  * originals (count + order-insensitive crc32 checksum; exact-compare
  * spec at sf0.001 in Round14OpsSpec), and times both forms.
  *
  * Usage: `runMain graft.TokenMat <sfDir> [trials]` — prints one JSON
  * line per query and a summary, durably written via
  * Bench.durableWrite as tokenmat_<sf>_r<N>.
  */
object TokenMat {

  /** Tokenize documents once into a bucketed managed table
    * (doc_id, lang, source, __toks), bucketed+sorted by doc_id.
    * Returns (tableName, materialization seconds, doc count).
    */
  def materialize(spark: SparkSession, sfDir: String, table: String): (String, Double, Long) = {
    import graft.functions.{Fence, TextFns}
    val t0 = System.nanoTime()
    // a previous JVM's table location survives in the warehouse dir but
    // not in the (in-memory) catalog — an orphan location fails
    // saveAsTable with LOCATION_ALREADY_EXISTS; clear both sides
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val wh = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      if (wh.exists()) rm(wh)
    } catch { case _: Throwable => () }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = Fence.guard(docs.select(col("doc_id"), col("lang"), col("source"),
      TextFns.tokensFast(col("text")).as("__toks")))
    graft.sinks.Sinks.bucketed(toks, table, Seq("doc_id"), 32)
    val n = spark.table(table).count()
    // Freshness stamp (ADVICE r15): the reader (Queries.tokenMatTable)
    // compares this against the CURRENT documents count and fails loudly
    // on mismatch — regenerating documents.parquet in the same dir after
    // materialization must never silently serve stale tokens.
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.doc_count' = '$n')")
    (table, (System.nanoTime() - t0) / 1e9, n)
  }

  /** The three re-pointed pipelines, given the materialized table. */
  def variants(spark: SparkSession, table: String): Seq[(String, () => DataFrame)] = {
    def toks = spark.table(table).select(col("doc_id"), col("__toks"))
    Seq(
      ("q_bm25", () => Queries.bm25ScoresToks(toks)),
      ("q_ppl_buckets_scale", () => Queries.pplBucketsScaleFrom(
        Queries.bigramLmFromToks(toks)
          .join(spark.table(table).select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("lm_milli")))),
      ("q_tfidf_topterms", () => Queries.tfidfFromToks(toks,
        spark.table(table).count())))
  }

  /** Order-insensitive content signature: row count + sum of per-row
    * crc32 over the canonical string rendering — cheap at any scale
    * (exact compare lives in Round14OpsSpec at sf0.001).
    */
  def signature(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df.select(crc32(concat_ws("|", cols: _*)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val trials = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local("graft-tokenmat")
    spark.sparkContext.setLogLevel("WARN")
    val sfName = sfDir.split('/').last
    val tableName = s"graft_tokens_${sfName.replaceAll("[^A-Za-z0-9_]", "_")}"

    def materializeNoop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time(mk: () => DataFrame): Double =
      (1 to trials).map { _ =>
        val t0 = System.nanoTime()
        materializeNoop(mk())
        (System.nanoTime() - t0) / 1e9
      }.min

    val (_, matSec, nDocs) = materialize(spark, sfDir, tableName)
    val lines = variants(spark, tableName).map { case (name, mkVar) =>
      def mkOrig() = SparkEntry.queries(name)(spark, sfDir)
      // the GRADUATED path (round 15): the same registered query,
      // re-pointed at the table by the spark.graft.tokenmat flag —
      // the production wiring, not just the kernel seam. One session:
      // the default in-memory catalog does not persist saveAsTable
      // metadata across JVMs (a production deployment uses a real
      // catalog), so the flag reading must ride the materializing
      // session.
      def mkFlag() = {
        spark.conf.set("spark.graft.tokenmat", "1")
        try SparkEntry.queries(name)(spark, sfDir)
        finally spark.conf.set("spark.graft.tokenmat", "0")
      }
      // parity first (also warms the plans' codegen)
      val sigO = signature(mkOrig())
      val sigV = signature(mkVar())
      val sigF = signature(mkFlag())
      val parity = sigO == sigV && sigO == sigF
      SessionMemo.sweep(spark)
      val origSec = time(() => mkOrig())
      SessionMemo.sweep(spark)
      val varSec = time(mkVar)
      SessionMemo.sweep(spark)
      val flagSec = time(() => mkFlag())
      val line = f"""{"q":"$name","parity":$parity,"orig_sec":$origSec%.3f,""" +
        f""""mat_sec":$varSec%.3f,"flag_sec":$flagSec%.3f,""" +
        f""""speedup":${origSec / varSec}%.2f,"flag_speedup":${origSec / flagSec}%.2f,""" +
        f""""sig_rows":${sigO._1}}"""
      println(line)
      (parity, line)
    }
    val allOk = lines.forall(_._1)
    val round = sys.env.get("SPARK_GRAFT_ROUND").orElse(Bench.nextRound()).getOrElse("x")
    val doc = s"""{"rehearsal":"token_materialization","sf":"$sfDir","docs":$nDocs,""" +
      f""""materialize_sec":$matSec%.3f,"all_parity":$allOk,"pipelines":[""" +
      lines.map(_._2).mkString(",") + "]}"
    println(doc)
    Bench.durableWrite(s"tokenmat_${sfName}_r$round", doc): Unit
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
