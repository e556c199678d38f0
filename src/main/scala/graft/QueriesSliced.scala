package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Joins, Keyed, Relational, Windows}
import graft.functions.{DedupFns, Fence, Multimodal, TextFns, VectorFns}

/** The SLICED decade-up parity twins (§2 row 44): identical operator chains over the deterministic md5 doc/order slice, so decade-scale oracle parity is measured, not vacuous.
  *
  * Round-17 split of Queries.scala (VERDICT r16 item 7), behavior-
  * frozen: the SAME GraftQuery values, registered by the SAME names
  * in Queries.all; helpers stay on the Queries object (reached via
  * the self-type), and every member is a lazy val so cross-file
  * initialization order cannot bite.
  */
private[graft] trait QueriesSliced { this: Queries.type =>

  /** [[qDedupClusters]] over the md5 doc slice — identical CC chain. */
  private[graft] lazy val qDedupClustersSliced = GraftQuery(
    "q_dedup_clusters_sliced",
    (s, dir) => simhashClustersSliced(s, dir),
    Some(s"""${simhashCcSqlWhere(sliceWhere)}
             SELECT id, CAST(min(r) AS BIGINT) AS cluster_root
             FROM reach GROUP BY id"""))


  /** [[qGroupSplit]] over the md5 doc slice — identical rep/split rule. */
  private[graft] lazy val qGroupSplitSliced = GraftQuery(
    "q_group_split_sliced",
    (s, dir) => {
      val docs = slicedDocs(s, dir)
      val roots = simhashClustersSliced(s, dir)
      val h = (conv(substring(md5(col("rep").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100)
      docs.join(roots, docs("doc_id") === roots("id"), "left")
        .select(col("source"), col("doc_id"),
          coalesce(col("cluster_root"), col("doc_id")).as("rep"))
        .withColumn("split",
          when(h < 98, "train").when(h < 99, "val").otherwise("test"))
    },
    Some(s"""${simhashCcSqlWhere(sliceWhere)},
            roots AS (SELECT id, min(r) AS root FROM reach GROUP BY id),
            rep AS (SELECT d.source, d.doc_id, COALESCE(r.root, d.doc_id) AS rep
                    FROM documents d LEFT JOIN roots r ON d.doc_id = r.id
                    WHERE ${sliceDocPredSql("d.doc_id")})
            SELECT source, doc_id, rep,
              CASE WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4))::BIGINT % 100 < 98 THEN 'train'
                   WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4))::BIGINT % 100 < 99 THEN 'val'
                   ELSE 'test' END AS split
            FROM rep"""))


  /** [[qDedupSurvivors]] over the md5 doc slice — identical anti-join. */
  private[graft] lazy val qDedupSurvivorsSliced = GraftQuery(
    "q_dedup_survivors_sliced",
    (s, dir) => {
      val docs = slicedDocs(s, dir)
      val losers = simhashClustersSliced(s, dir)
        .filter(col("id") =!= col("cluster_root"))
        .select(col("id"))
      docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
    },
    Some(s"""${simhashCcSqlWhere(sliceWhere)},
             losers AS (SELECT id FROM (SELECT id, min(r) AS root FROM reach GROUP BY id)
                        WHERE id != root)
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents LEFT JOIN losers ON doc_id = losers.id
             WHERE losers.id IS NULL AND ${sliceDocPredSql("doc_id")}
             GROUP BY source"""))


  /** [[qDedupPrio]] over the md5 doc slice — identical min_by survivor. */
  private[graft] lazy val qDedupPrioSliced = GraftQuery(
    "q_dedup_prio_sliced",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), expr("CAST(substring(source, 4) AS BIGINT)").as("src_num"))
      val members = simhashClustersSliced(s, dir)
        .join(docs, col("id") === col("doc_id"))
        .select(col("doc_id"), col("cluster_root"), col("src_num"))
      val surv = members.groupBy("cluster_root")
        .agg(min_by(col("doc_id"), struct(col("src_num"), col("doc_id"))).as("survivor_id"))
      members.join(surv, Seq("cluster_root"))
        .select(col("doc_id"), col("cluster_root"), col("src_num"), col("survivor_id"),
          when(col("doc_id") === col("survivor_id"), 1L).otherwise(0L).as("kept"))
    },
    Some(s"""${simhashCcSqlWhere(sliceWhere)},
             roots AS (SELECT id, min(r) AS root FROM reach GROUP BY id),
             pm AS (SELECT r.id AS doc_id, r.root AS cluster_root,
                      CAST(substr(d.source, 4) AS BIGINT) AS src_num
                    FROM roots r JOIN documents d ON d.doc_id = r.id),
             psv AS (SELECT cluster_root, doc_id AS survivor_id FROM
                       (SELECT cluster_root, doc_id,
                          row_number() OVER (PARTITION BY cluster_root ORDER BY src_num, doc_id) AS rn
                        FROM pm)
                     WHERE rn = 1)
             SELECT pm.doc_id, pm.cluster_root, pm.src_num, psv.survivor_id,
               CAST(CASE WHEN pm.doc_id = psv.survivor_id THEN 1 ELSE 0 END AS BIGINT) AS kept
             FROM pm JOIN psv USING (cluster_root)"""))


  /** [[qDedupSavings]] over the md5 doc slice — identical accounting. */
  private[graft] lazy val qDedupSavingsSliced = GraftQuery(
    "q_dedup_savings_sliced",
    (s, dir) => {
      val toks = slicedDocs(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextFns.tokensFast(col("text"))).cast("long").as("nt"))
      val losers = simhashClustersSliced(s, dir)
        .filter(col("id") =!= col("cluster_root")).select(col("id"))
      toks.join(losers, toks("doc_id") === losers("id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("tokens_total"),
          sum(when(col("id").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          coalesce(sum(when(col("id").isNotNull, col("nt"))), lit(0L)).as("tokens_removed"))
        .select(col("source"), col("n_docs"), col("n_removed"),
          col("tokens_total"), col("tokens_removed"),
          expr("tokens_removed * 1000 div greatest(tokens_total, 1)").as("savings_milli"))
    },
    Some(s"""${simhashCcSqlWhere(sliceWhere)},
             roots AS (SELECT id, CAST(min(r) AS BIGINT) AS root FROM reach GROUP BY id),
             losers AS (SELECT id FROM roots WHERE id <> root),
             tk AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS nt
                    FROM documents$sliceWhere),
             x AS (SELECT tk.source, tk.nt,
                     CASE WHEN losers.id IS NULL THEN 0 ELSE 1 END AS rem
                   FROM tk LEFT JOIN losers ON tk.doc_id = losers.id)
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(rem) AS BIGINT) AS n_removed,
               CAST(sum(nt) AS BIGINT) AS tokens_total,
               CAST(coalesce(sum(CASE WHEN rem = 1 THEN nt END), 0) AS BIGINT) AS tokens_removed,
               CAST(coalesce(sum(CASE WHEN rem = 1 THEN nt END), 0) * 1000
                    // greatest(sum(nt), 1) AS BIGINT) AS savings_milli
             FROM x GROUP BY source"""))


  /** [[qTriangles]] over the md5 doc slice — identical wedge join. */
  private[graft] lazy val qTrianglesSliced = GraftQuery(
    "q_triangles_sliced",
    (s, dir) => Relational.triangleCounts(simhashPairsSliced(s, dir), "id_a", "id_b"),
    Some(s"""${simhashPairsSqlWhere(sliceWhere)},
             tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                     FROM p e1
                     JOIN p e2 ON e2.id_a = e1.id_b
                     JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
             corners AS (SELECT a AS id FROM tri
                         UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri)
             SELECT id, CAST(count(*) AS BIGINT) AS n_tri
             FROM corners GROUP BY id"""))


  /** [[qPrefixJaccard]] over the md5 doc slice — identical PPJoin. */
  private[graft] lazy val qPrefixJaccardSliced = GraftQuery(
    "q_prefix_jaccard_sliced",
    (s, dir) => DedupFns.prefixJaccardPairs(slicedDocs(s, dir), "doc_id", "text", 3, 500),
    Some(s"""WITH t0 AS (SELECT doc_id AS id, $toksSql AS tk FROM documents$sliceWhere),
            g AS (SELECT id, $grams3Sql AS toks FROM t0),
            docs AS (SELECT id, toks FROM g WHERE len(toks) > 0),
            tk AS (SELECT id, unnest(toks) AS tok FROM docs),
            dfq AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
            rk AS (SELECT id, tok,
                     row_number() OVER (PARTITION BY id ORDER BY df, tok) AS rn,
                     count(*) OVER (PARTITION BY id) AS sz
                   FROM tk JOIN dfq USING (tok)),
            pre AS (SELECT id, tok FROM rk
                    WHERE rn <= sz - (sz * 500 + 999) // 1000 + 1),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM pre a JOIN pre b ON a.tok = b.tok AND a.id < b.id),
            sc AS (SELECT id_a, id_b,
                     len(list_intersect(da.toks, db.toks)) AS inter,
                     len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks)) AS uni
                   FROM cand
                   JOIN docs da ON id_a = da.id
                   JOIN docs db ON id_b = db.id)
            SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
                   CAST(inter * 1000 // uni AS BIGINT) AS jac_milli
            FROM sc WHERE inter * 1000 >= uni * 500"""))


  /** [[qImageNeardup]] over the md5 doc slice — identical signature +
    * byte-band miner, the measured-100× parity member for the NEW
    * multimodal pair family (round 16): the full-corpus oracle is
    * measured green at sf1 (4.17M pairs, rows+schema+hash), but its
    * sf10 pair output is the DuckDB-single-node-bound class the slice
    * rule exists for — the slice keeps the oracle's input at ~1/16
    * (1/256 past 100k docs) so 100× parity is MEASURED, not vacuous.
    */
  private[graft] lazy val qImageNeardupSliced = GraftQuery(
    "q_image_neardup_sliced",
    (s, dir) => {
      val sigs = slicedDocs(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .filter(length(col("payload").cast("string")) >= 4)
        .select(col("doc_id").as("id"),
          Multimodal.phash32(col("payload")).as("sim"))
      DedupFns.nearDupPairsFromSigs(sigs, maxHamming = 3)
    },
    Some(s"""${phashPairsSql(s" AND ${sliceDocPredSql("doc_id")}")}
             SELECT id_a, id_b, dist FROM p"""))


  /** [[qCopurchase]] over the md5 ORDER slice (1/16 of orderkeys) —
    * identical basket² association mining; the slice bounds the
    * oracle's per-order pair explode, not the rule. Support threshold
    * drops 3 → 2 here: cross-order pair counts fall ~16× with the
    * slice, and ≥3 would leave the instrument vacuous (0 rows) at sf1
    * (measured: the sf1 slice has 148 pairs at support 2, none at 3).
    */
  private[graft] lazy val qCopurchaseSliced = GraftQuery(
    "q_copurchase_sliced",
    (s, dir) => {
      val li = Fence.keepAll(
        t(s, dir, "lineitem")
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull &&
            sliceCondAt(s, dir, "lineitem", 10000000L)(col("l_orderkey")))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
      val pairs = li.as("a").join(li.as("b").hint("shuffle_hash"), Seq("ok"))
        .filter(col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 2)  // sliced support threshold (see scaladoc)
      val supp = li.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      val n = li.agg(countDistinct(col("ok")).as("n_orders"))
      pairs
        .join(supp.as("sa").hint("shuffle_hash"), col("p1") === col("sa.pk"))
        .join(supp.as("sb").hint("shuffle_hash"), col("p2") === col("sb.pk"))
        .crossJoin(broadcast(n))
        .select(col("p1"), col("p2"), col("c_ab"),
          expr("c_ab * 1000 div sa.c").as("conf_milli"),
          expr("c_ab * n_orders * 1000 div (sa.c * sb.c)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("c_ab").desc, col("p1"), col("p2"))
        .limit(50)
    },
    Some(s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
                          AND ${slicePredSql("l_orderkey", "lineitem", 10000000L)}),
             pr AS (SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS c_ab
                    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                    GROUP BY 1, 2 HAVING count(*) >= 2),
             sp AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
             n AS (SELECT count(DISTINCT ok) AS n_orders FROM li)
             SELECT p1, p2, c_ab,
               CAST(c_ab * 1000 // sa.c AS BIGINT) AS conf_milli,
               CAST(c_ab * n_orders * 1000 // (sa.c * sb.c) AS BIGINT) AS lift_milli
             FROM pr JOIN sp sa ON pr.p1 = sa.pk
                     JOIN sp sb ON pr.p2 = sb.pk
                     CROSS JOIN n
             ORDER BY lift_milli DESC, c_ab DESC, p1, p2
             LIMIT 50"""))

}
