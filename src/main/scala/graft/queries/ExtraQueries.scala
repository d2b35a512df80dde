package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Normalize

/** Coverage pack 2 (SURVEY.md §2.6/§2.3 remaining ◆ rows): F1 norm,
  * F3 color normalize, F11 friendly color, F14 severity tag, F19 short
  * label, F21 severity-from-problem, J6 catalog lookup, plus the
  * embedding-cosine near-dup (the fifth dedup family from the
  * training-data north star). All scan-local expressions except the
  * two joins, which broadcast their tiny side. */
object ExtraQueries {

  /** F1 — `_norm`: trim, lower, collapse internal whitespace
    * (import_from_xlsm.py:25-28), over part names. */
  val f1Norm: QuerySpec = QuerySpec.sql(
    "f1_norm",
    """SELECT p_partkey,
      |  lower(regexp_replace(trim(concat('  ', p_name, '   x')), '\s+', ' ', 'g')) AS normed
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        Normalize.norm(concat(lit("  "), col("p_name"), lit("   x"))).as("normed"))
      .orderBy("p_partkey")
  }

  /** F3 — normalize_color: substring → canonical color or null
    * (update_from_json.py:28-40). TPC-H part names are color lists, so
    * the hit rate is real. */
  val f3ColorNormalize: QuerySpec = QuerySpec.sql(
    "f3_color_normalize",
    """WITH t AS (SELECT p_partkey,
      |  lower(regexp_replace(trim(p_name), '\s+', ' ', 'g')) AS s FROM part)
      |SELECT p_partkey,
      |  CASE WHEN s LIKE '%black%' OR s = 'k' THEN 'Black'
      |       WHEN s LIKE '%cyan%' OR s = 'c' THEN 'Cyan'
      |       WHEN s LIKE '%magenta%' OR s = 'm' THEN 'Magenta'
      |       WHEN s LIKE '%yellow%' OR s = 'y' THEN 'Yellow'
      |       ELSE NULL END AS color
      |FROM t
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"), Normalize.normalizeColor(col("p_name")).as("color"))
      .orderBy("p_partkey")
  }

  /** F11 — friendly color: name wins over desc, fixed fallback,
    * title-case (snmp_toner.py:74-88). p_name as colorant name, p_type
    * as description. */
  val f11FriendlyColor: QuerySpec = {
    def pickSql(c: String) =
      s"""CASE WHEN $c LIKE '%black%' THEN 'Black'
         |     WHEN $c LIKE '%cyan%' THEN 'Cyan'
         |     WHEN $c LIKE '%magenta%' THEN 'Magenta'
         |     WHEN $c LIKE '%yellow%' THEN 'Yellow'
         |     ELSE NULL END""".stripMargin
    QuerySpec.sql(
      "f11_friendly_color",
      s"""WITH t AS (SELECT p_partkey,
         |  lower(regexp_replace(trim(coalesce(p_name, '')), '\\s+', ' ', 'g')) AS nm,
         |  lower(regexp_replace(trim(coalesce(p_type, '')), '\\s+', ' ', 'g')) AS ds
         |FROM part)
         |SELECT p_partkey,
         |  coalesce(${pickSql("nm")}, ${pickSql("ds")}, 'Unknown') AS friendly
         |FROM t
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          Normalize.friendlyColor(col("p_name"), col("p_type")).as("friendly"))
        .orderBy("p_partkey")
    }
  }

  /** F14 — severity tag map 1/2/3/4 → other/unknown/warning/critical
    * (snmp_alerts.py:57-72), keyed off a synthesized 1..5 code. */
  val f14SeverityTag: QuerySpec = QuerySpec.sql(
    "f14_severity_tag",
    """SELECT l_orderkey, l_linenumber, l_partkey,
      |  CASE (l_partkey % 5) + 1
      |    WHEN 1 THEN 'other' WHEN 2 THEN 'unknown'
      |    WHEN 3 THEN 'warning' WHEN 4 THEN 'critical'
      |    ELSE 'unknown' END AS severity
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        Normalize.severityTag(col("l_partkey") % 5 + 1).as("severity"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey")
  }

  /** F19 — short label (ews_alerts.py:173-199): catalog-matched rows
    * (every third doc here; empty info on every ninth exercises the
    * "Check printer" catalog fallback) take the entry info; the rest
    * run the keyword decision list, blank desc → "Normal". */
  val f19ShortLabel: QuerySpec = QuerySpec.sql(
    "f19_short_label",
    """WITH t AS (SELECT doc_id,
      |  CASE WHEN doc_id % 9 = 0 THEN ''
      |       WHEN doc_id % 3 = 0 THEN 'From catalog' ELSE NULL END AS info,
      |  lower(trim(coalesce(text, ''))) AS s
      |FROM documents)
      |SELECT doc_id,
      |  CASE WHEN info IS NOT NULL THEN
      |    coalesce(CASE WHEN length(trim(info)) > 0 THEN info END, 'Check printer')
      |  ELSE coalesce(
      |    CASE WHEN s = '' THEN 'Normal' END,
      |    CASE WHEN s LIKE '%door%' THEN 'Door open' END,
      |    CASE WHEN s LIKE '%jam%' THEN 'Paper jam' END,
      |    CASE WHEN s LIKE '%toner%' AND s LIKE '%detect%' THEN 'Toner not detected' END,
      |    CASE WHEN s LIKE '%toner%' AND (s LIKE '%empty%' OR s LIKE '%end%') THEN 'Toner empty' END,
      |    CASE WHEN (s LIKE '%drum%' OR s LIKE '%imaging unit%')
      |              AND s LIKE '%not%' AND s LIKE '%install%' THEN 'Drum not installed' END,
      |    CASE WHEN (s LIKE '%drum%' OR s LIKE '%imaging unit%')
      |              AND (s LIKE '%end%' OR s LIKE '%replace%') THEN 'Replace drum now' END,
      |    CASE WHEN s LIKE '%transfer%' THEN 'Transfer roller fault' END,
      |    CASE WHEN s LIKE '%scanner%' THEN 'Scanner error' END,
      |    CASE WHEN s LIKE '%fuser%' THEN 'Fuser error' END,
      |    'Check printer') END AS label
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0, lit(""))
          .when(col("doc_id") % 3 === 0, lit("From catalog")).as("info"),
        col("text"))
      .select(col("doc_id"),
        Normalize.shortLabel(col("info"), col("text")).as("label"))
      .orderBy("doc_id")
  }

  /** F21 — severity from problem text: the reference's exact substring
    * keyword sets over the lowercased (not collapsed) problem →
    * critical/warning/informational (ledm_client.py:149-157). */
  val f21SeverityProblem: QuerySpec = {
    def likes(keys: Seq[String]): String =
      keys.map(k => s"s LIKE '%$k%'").mkString(" OR ")
    QuerySpec.sql(
      "f21_severity_problem",
      s"""WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS s
         |FROM documents)
         |SELECT doc_id,
         |  CASE WHEN ${likes(Normalize.ProblemCriticalKeys)}
         |       THEN 'critical'
         |       WHEN ${likes(Normalize.ProblemWarningKeys)}
         |       THEN 'warning'
         |       ELSE 'informational' END AS severity
         |FROM t
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Normalize.severityFromProblem(col("text")).as("severity"))
        .orderBy("doc_id")
    }
  }

  /** J6 — code → catalog broadcast lookup with label fallback
    * (ews_alerts.py:262-284): nation joined to the 5-row region catalog;
    * missing codes degrade to the default label, the reference's
    * rank-refine shape. */
  val j6CatalogLookup: QuerySpec = QuerySpec.sql(
    "j6_catalog_lookup",
    """SELECT n_nationkey, n_name,
      |  coalesce(CASE WHEN r_regionkey % 2 = 0 THEN NULL ELSE r_name END,
      |           'Check printer') AS label,
      |  CASE WHEN r_regionkey IS NULL THEN 9 ELSE r_regionkey END AS refined_rank
      |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val catalog = broadcast(Tables.region(s, d))
    Tables.nation(s, d)
      .join(catalog, col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(when(col("r_regionkey") % 2 === 0, lit(null))
          .otherwise(col("r_name")), lit("Check printer")).as("label"),
        when(col("r_regionkey").isNull, 9).otherwise(col("r_regionkey"))
          .as("refined_rank"))
      .orderBy("n_nationkey")
  }

  /** Shared base CTEs `sq` (scaled squared norms) and `b` (sign-bit
    * bucketed embeddings) every cosine near-dup variant builds on. */
  private val CosBaseCtesSql: String = {
    import VectorQueries.prodLSql
    s"""sq AS (
       |  SELECT vec_id, CAST(SUM(${prodLSql("x", "x")}) AS DOUBLE) / 1e12 AS ss
       |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
       |b AS (SELECT vec_id, embedding,
       |  concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
       |         CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
       |         CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
       |         CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
       |         CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
       |         CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
       |  FROM embeddings)""".stripMargin
  }

  /** FULL within-bucket pair CTEs ending in `cpairs(d1, d2, cosine)` —
    * C(m,2) candidate dot products per bucket. */
  private val CosPairCtes: String = {
    import VectorQueries.prodLSql
    s"""pairs AS (
       |  SELECT x.vec_id AS d1, y.vec_id AS d2, x.embedding AS qe, y.embedding AS ne
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |dots AS (
       |  SELECT d1, d2, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot
       |  FROM (SELECT d1, d2, ${prodLSql("qe[i+1]", "ne[i+1]")} AS p
       |        FROM pairs, range(0, 64) t(i)) GROUP BY 1, 2),
       |cpairs AS (
       |  SELECT d1, d2, dot / (sqrt(a.ss) * sqrt(c.ss)) AS cosine
       |  FROM dots JOIN sq a ON d1 = a.vec_id JOIN sq c ON d2 = c.vec_id
       |  WHERE dot / (sqrt(a.ss) * sqrt(c.ss)) >= 0.35
       |)""".stripMargin
  }

  /** STAR edge CTEs ending in `cstar_pairs(d1, d2)` — each bucket
    * member dotted against ONLY the bucket-min hub: m−1 dot products
    * per bucket instead of C(m,2). One bucket per vector (single-table
    * sign-LSH), so no cross-band dedup is needed and d1 < d2 holds by
    * hub-min construction. Same ≥ 0.35 cosine screen as `cpairs`. */
  private val CosStarCtes: String = {
    import VectorQueries.prodLSql
    s"""chubs AS (SELECT bucket, MIN(vec_id) AS hub FROM b GROUP BY bucket),
       |cstar AS (
       |  SELECT h.hub AS d1, x.vec_id AS d2, y.embedding AS qe, x.embedding AS ne
       |  FROM b x JOIN chubs h ON x.bucket = h.bucket
       |            JOIN b y ON y.vec_id = h.hub
       |  WHERE x.vec_id <> h.hub),
       |cstar_dots AS (
       |  SELECT d1, d2, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot
       |  FROM (SELECT d1, d2, ${prodLSql("qe[i+1]", "ne[i+1]")} AS p
       |        FROM cstar, range(0, 64) t(i)) GROUP BY 1, 2),
       |cstar_pairs AS (
       |  SELECT d1, d2
       |  FROM cstar_dots JOIN sq a ON d1 = a.vec_id JOIN sq c ON d2 = c.vec_id
       |  WHERE dot / (sqrt(a.ss) * sqrt(c.ss)) >= 0.35
       |)""".stripMargin
  }

  /** DuckDB CTE chain ending in `cpairs(d1, d2, cosine)` — the
    * thresholded cosine near-dup pair set. Shared by the t11 oracle
    * and t26's recursive-CTE clustering oracle (same
    * edge-definition-sharing discipline as TextQueries' MinHash
    * pairs). */
  private val CosPairsCtesSql: String = CosBaseCtesSql + ",\n" + CosPairCtes

  /** (vec_id, eL, ss, bucket): scaled-long embedding, squared norm and
    * sign-bit bucket — the shared frame under both cosine pair
    * variants. */
  private def cosBucketed(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import VectorQueries.scaleL
    val sumSq = (eL: org.apache.spark.sql.Column) =>
      call_function("long_dot", eL, eL).cast("double") / lit(1e12)
    val bucket = concat((1 to 6).map(i =>
      when(element_at(col("embedding"), i) >= 0, "1").otherwise("0")): _*)
    Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"), bucket.as("bucket"))
      .withColumn("ss", sumSq(col("eL")))
  }

  /** Spark twin of [[CosPairsCtesSql]] (unordered). */
  private def cosNearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import VectorQueries.dotL
    val b = cosBucketed(s, d)
    b.as("x")
      .join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"),
        (dotL(col("x.eL"), col("y.eL")) /
          (sqrt(col("x.ss")) * sqrt(col("y.ss")))).as("cosine"))
      .filter(col("cosine") >= 0.35)
  }

  /** Spark twin of [[CosStarCtes]]: per sign-bit bucket, each member
    * dotted against ONLY the bucket-min hub — m−1 dot products per
    * bucket instead of C(m,2). The t11 family's ×100 failure mode is
    * worse than MinHash's: the bucket SPACE is fixed (2^6 hyperplane
    * signs), so members per bucket grow linearly with corpus size and
    * full pair emission grows quadratically in N — ~2 billion 64-dim
    * dot products at 500k vectors. Star edges restore linearity for
    * the clustering consumer. The hub's vector rides in a
    * `min(struct(vec_id, eL, ss))` aggregate (ordering is by leading
    * field; vec_id unique), so no join back to the embedding table. */
  private[queries] def cosStarEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import VectorQueries.dotL
    val b = cosBucketed(s, d)
    val hubs = b.groupBy("bucket")
      .agg(min(struct(col("vec_id"), col("eL"), col("ss"))).as("h"))
    b.join(hubs, "bucket")
      .filter(col("vec_id") =!= col("h.vec_id"))
      .select(col("h.vec_id").as("d1"), col("vec_id").as("d2"),
        (dotL(col("h.eL"), col("eL")) /
          (sqrt(col("h.ss")) * sqrt(col("ss")))).as("cosine"))
      .filter(col("cosine") >= 0.35)
      .select(col("d1"), col("d2"))
  }

  /** T11 — embedding-cosine near-dup pairs (fifth dedup family):
    * sign-bit LSH bucket join, keep pairs with cosine above threshold —
    * threshold dedup, not top-k (that is T10). Same scaled-long exact
    * dot products as VectorQueries (see its scaladoc for the parity
    * argument). */
  val t11CosineNeardup: QuerySpec = QuerySpec.sql(
    "t11_cosine_neardup",
    s"""WITH $CosPairsCtesSql
       |SELECT d1, d2, cosine FROM cpairs
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    cosNearDupPairs(s, d).orderBy("d1", "d2")
  }

  /** T26 — SEMANTIC duplicate clusters: connected components over the
    * t11 cosine-edge graph (the embedding-space analogue of t21's
    * lexical clusters — same [[graft.ops.ConnectedComponents]]
    * resolver, different edge family; a curation pipeline runs both
    * and keeps one representative per union). */
  val t26SemanticClusters: QuerySpec = QuerySpec.sql(
    "t26_semantic_clusters",
    s"""WITH RECURSIVE $CosPairsCtesSql,
       |sym AS (SELECT d1 AS src, d2 AS dst FROM cpairs
       |        UNION ALL SELECT d2, d1 FROM cpairs),
       |reach(node, label) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT sym.dst, reach.label FROM reach JOIN sym ON reach.node = sym.src
       |),
       |cc AS (SELECT node AS vec_id, MIN(label) AS cluster_id
       |       FROM reach GROUP BY node)
       |SELECT vec_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  vec_id = cluster_id AS is_keeper
       |FROM cc
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    Standing.rebuild(semanticClusters, s, d, false).orderBy("vec_id")
  }

  /** Semantic clusters (variant: full or star edge feed), a standing
    * artifact: direct t26/t35 runs always rebuild (scale/bench numbers
    * stay honest); the t36 parity gate composes on the recorded
    * checkpoints. */
  private val semanticClusters = Standing.declare[Boolean, DataFrame](
      "semantic-clusters", "embeddings") { (s, d, star) =>
    val edges = (if (star) cosStarEdges(s, d)
                 else cosNearDupPairs(s, d)).select(col("d1"), col("d2"))
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    val cc = graft.ops.ConnectedComponents.labels(edges, "d1", "d2", nodes, "id")
    Clustering.frame(cc, "vec_id").localCheckpoint()
  }

  /** T35 — semantic clusters over the STAR edge feed: t32's
    * linear-edge formulation applied to the cosine family, where it
    * matters even more — the sign-bit bucket space is FIXED at 2^6, so
    * full within-bucket pair emission is quadratic in corpus size
    * itself (not merely in dup-group depth like MinHash): the ×100
    * spot-run put t11 past 35 minutes on ~2B candidate dot products,
    * while the star feed computes exactly N − #buckets dots. t36
    * quantifies the split cost against full t26 clustering. */
  val t35SemanticStar: QuerySpec = QuerySpec.sql(
    "t35_semantic_star",
    s"""WITH RECURSIVE $CosBaseCtesSql,
       |$CosStarCtes,
       |sym AS (SELECT d1 AS src, d2 AS dst FROM cstar_pairs
       |        UNION ALL SELECT d2, d1 FROM cstar_pairs),
       |reach(node, label) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT sym.dst, reach.label FROM reach JOIN sym ON reach.node = sym.src
       |),
       |cc AS (SELECT node AS vec_id, MIN(label) AS cluster_id
       |       FROM reach GROUP BY node)
       |SELECT vec_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  vec_id = cluster_id AS is_keeper
       |FROM cc
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    Standing.rebuild(semanticClusters, s, d, true).orderBy("vec_id")
  }

  /** T36 — star-vs-full SEMANTIC parity gate (t33's shape for the
    * cosine family): star edges ⊆ full cosine pairs, so star
    * clustering refines t26's — the row pins the measured split cost
    * at the committed 6-bit/0.35 operating point. */
  val t36SemanticStarParity: QuerySpec = QuerySpec.sql(
    "t36_semantic_star_parity",
    s"""WITH RECURSIVE $CosPairsCtesSql,
       |$CosStarCtes,
       |sym_f AS (SELECT d1 AS src, d2 AS dst FROM cpairs
       |          UNION ALL SELECT d2, d1 FROM cpairs),
       |reach_f(node, label) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT sym_f.dst, reach_f.label
       |  FROM reach_f JOIN sym_f ON reach_f.node = sym_f.src
       |),
       |cc_f AS (SELECT node, MIN(label) AS cluster_id
       |         FROM reach_f GROUP BY node),
       |sym_s AS (SELECT d1 AS src, d2 AS dst FROM cstar_pairs
       |          UNION ALL SELECT d2, d1 FROM cstar_pairs),
       |reach_s(node, label) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT sym_s.dst, reach_s.label
       |  FROM reach_s JOIN sym_s ON reach_s.node = sym_s.src
       |),
       |cc_s AS (SELECT node, MIN(label) AS cluster_id
       |         FROM reach_s GROUP BY node)
       |SELECT COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN f.cluster_id = s.cluster_id
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  COUNT(DISTINCT f.cluster_id) AS n_clusters_full,
       |  COUNT(DISTINCT s.cluster_id) AS n_clusters_star
       |FROM cc_f f JOIN cc_s s ON f.node = s.node""".stripMargin) { (s, d) =>
    val full = Standing.get(semanticClusters, s, d, false)
      .select(col("vec_id"), col("cluster_id").as("cf"))
    val star = Standing.get(semanticClusters, s, d, true)
      .select(col("vec_id"), col("cluster_id").as("cs"))
    full.join(star, "vec_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cf") === col("cs"), 1L).otherwise(0L)).as("n_agree"),
        countDistinct("cf").as("n_clusters_full"),
        countDistinct("cs").as("n_clusters_star"))
  }

  val all: Seq[QuerySpec] = Seq(
    f1Norm, f3ColorNormalize, f11FriendlyColor, f14SeverityTag,
    f19ShortLabel, f21SeverityProblem, j6CatalogLookup, t11CosineNeardup,
    t26SemanticClusters, t35SemanticStar, t36SemanticStarParity)
}
