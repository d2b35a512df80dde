package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis.tokens

/** Iterative graph analytics over the near-dup similarity graph — the
  * power-iteration family (score propagation, PageRank) that a
  * curation stack runs beside connected components: CC answers "which
  * docs are the same", propagation answers "how much should a doc's
  * neighborhood adjust its quality score" (semi-supervised score
  * smoothing over the duplicate graph) and PageRank "which docs are
  * structurally central in the duplication topology" (hub boilerplate
  * ranks high and gets down-weighted at curation time).
  *
  * Graph definition is SHARED BYTE-FOR-BYTE with t2/t21: the filtered
  * MinHash-LSH pair set ([[TextQueries.NearDupPairsCtesSql]] /
  * [[TextQueries.nearDupPairsOf]]), symmetrized — so "an edge" can
  * never drift between the dedup gates and the analytics gates. Lake
  * scale: the full-pair build is the t2 operating point; the t32
  * star / t38b banded-index remedies apply unchanged because the
  * propagation loop only consumes an (src, dst) frame — and t81c
  * GATES that claim by running the identical recurrence on the star
  * edge set.
  *
  * Numeric discipline (the r16 lesson, applied from birth): ALL
  * arithmetic is fixed-point int64 — scores scaled by 2^20, damping
  * as integer percentages, `div` truncating division on both engines
  * (operands provably non-negative, so DuckDB's floor `//` and
  * Spark's `div` agree) — and every iteration's score is CAST back to
  * BIGINT in the oracle so DuckDB's HUGEINT `SUM` never reaches an
  * output column. Iteration count is FIXED (K = 6): a fixed-depth
  * unrolled recurrence is deterministic and ANSI-expressible (the
  * oracle unrolls s1..s6 as chained CTEs), unlike
  * convergence-triggered stopping.
  *
  * Spark plan shape per iteration: one shuffle (the neighbor-sum
  * groupBy on dst) plus a join against the checkpointed node base;
  * the edge frame and node base are localCheckpoint-ed ONCE so the
  * MinHash pipeline is not re-derived per round — the same
  * materialize-the-invariant discipline as KMeans/CC. On a cluster
  * both frames would be co-partitioned on doc_id to make the
  * per-round join shuffle-free. */
object GraphQueries {

  /** Fixed-point scale (2^20) for propagated scores. */
  private val Scale = 1L << 20
  /** Propagation mixing: score ← (Retain·seed + (100−Retain)·nbrAvg)/100. */
  private val Retain = 40
  /** PageRank damping as integer percent: pr ← (15·1 + 85·inflow)/100. */
  private val Damp = 85
  /** Fixed power-iteration depth (both gates, both engines). */
  private val Iters = 6

  /** Shared oracle prefix over an edge relation `pairsRel(d1, d2)`
    * delivered by `pairCtes`: symmetric `edges`, distinct-token
    * `seeds`, out-degree `deg`, node `base`. The seeds CTE reads the
    * tokenized-docs relation the near-dup chain exports by contract
    * ([[TextQueries.NearDupToksRel]]), not a bare literal — a rename
    * inside that chain now changes one constant instead of silently
    * breaking this oracle (ADVICE r17). */
  private def graphBaseCtesSql(pairCtes: String, pairsRel: String): String =
    s"""$pairCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM $pairsRel
       |          UNION ALL
       |          SELECT d2 AS src, d1 AS dst FROM $pairsRel),
       |seeds AS (SELECT doc_id,
       |    CAST(len(list_distinct(toks)) AS BIGINT) * $Scale AS seed_s
       |  FROM ${TextQueries.NearDupToksRel}),
       |dg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
       |       FROM edges GROUP BY 1),
       |base AS (SELECT s.doc_id, s.seed_s, COALESCE(dg.deg, 0) AS deg
       |         FROM seeds s LEFT JOIN dg USING (doc_id))""".stripMargin

  /** t81/t81b's graph: t2's FULL filtered pair set. */
  private val GraphBaseCtesSql: String =
    graphBaseCtesSql(TextQueries.NearDupPairsCtesSql, "pairs")

  /** t81c's graph: t32's STAR edge set — linear in duplication depth. */
  private val GraphBaseStarCtesSql: String =
    graphBaseCtesSql(TextQueries.NearDupStarCtesSql, "star_pairs")

  /** Spark twin of [[graphBaseCtesSql]]: (edges, base) both
    * checkpointed — each is consumed [[Iters]] times. `star` selects
    * the t32 hub-topology edge build instead of the full pair set. */
  private def graphBase(s: SparkSession, d: String,
      star: Boolean = false): (DataFrame, DataFrame) = {
    // ONE tokenize pass: the checkpointed toks frame feeds both the
    // MinHash signature pipeline and the distinct-token seed
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint()
    val pairs =
      (if (star) TextQueries.nearDupStarEdgesOfToks(toks)
       else TextQueries.nearDupPairsOfToks(toks)).select("d1", "d2")
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint()
    val seeds = toks.select(col("doc_id"),
      (size(array_distinct(col("toks"))).cast("long") * Scale)
        .as("seed_s"))
    val deg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
    val base = seeds.join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("seed_s"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .localCheckpoint()
    (edges, base)
  }

  /** The propagation recurrence over an arbitrary graph —
    * `edges(src, dst)` symmetric, `base(doc_id, seed_s, deg)` — so the
    * fixed-point semantics are spec-testable on hand graphs
    * independent of the MinHash edge derivation. Returns
    * (doc_id, s) after [[Iters]]-or-given rounds. */
  private[queries] def propagateScores(edges: DataFrame, base: DataFrame,
      iters: Int = Iters): DataFrame = {
    var cur = base.select(col("doc_id"), col("seed_s").as("s"))
    for (round <- 1 to iters) {
      val nb = edges.join(cur.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum("s").as("sum_s"))
      val prev = cur
      cur = base.join(nb, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"""CASE WHEN deg = 0 THEN seed_s
                  | ELSE ($Retain * seed_s + ${100 - Retain}
                  |       * (COALESCE(sum_s, 0) div deg)) div 100 END"""
            .stripMargin.replace("\n", "")).as("s"))
        .localCheckpoint()
      // eager localCheckpoint: the new round is fully materialized, so
      // the superseded round's blocks are dead — release them (the
      // ADVICE-r14 discipline; round 1's `prev` is a plain projection
      // over base, where release is a documented no-op), bounding the
      // loop's footprint to O(1) iterations instead of O(iters)
      if (round > 1) Clustering.release(prev)
    }
    cur
  }

  /** The PageRank recurrence over the same frame shapes — returns
    * (doc_id, deg, pr) after `iters` rounds, all nodes starting at
    * [[Scale]]. */
  private[queries] def pagerankScores(edges: DataFrame, base: DataFrame,
      iters: Int = Iters): DataFrame = {
    var cur = base.select(col("doc_id"), col("deg"), lit(Scale).as("pr"))
    for (round <- 1 to iters) {
      // deg >= 1 for every edge src by construction (it has this
      // edge), so `pr div deg` cannot divide by zero — mirroring the
      // oracle, which carries no guard either
      val nb = edges
        .join(cur.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(expr("pr div deg")).as("w"))
      val prev = cur
      cur = base.join(nb, Seq("doc_id"), "left")
        .select(col("doc_id"), col("deg"),
          expr(s"(15 * $Scale + $Damp * COALESCE(w, 0)) div 100")
            .as("pr"))
        .localCheckpoint()
      // release the superseded round once the new one materializes
      // (see propagateScores) — O(1)-iteration footprint
      if (round > 1) Clustering.release(prev)
    }
    cur
  }

  /** T81 — FIXED-POINT SCORE PROPAGATION (label-propagation smoothing,
    * Zhu & Ghahramani family): each round a node keeps [[Retain]] % of
    * its seed score and absorbs the rest from the truncated mean of
    * its neighbors' previous scores; isolated nodes keep the seed.
    * Seed = distinct-token count (lexical diversity), scaled 2^20. */
  /** Full propagation oracle over a given graph-base CTE chain — the
    * s0→s[[Iters]] unrolled recurrence plus the final projection,
    * shared by t81 and t81c so the two graphs run ONE recurrence. */
  private def propagationOracleSql(baseCtes: String): String = {
    val iterCtes = (1 to Iters).map { k =>
      s"""s$k AS (SELECT b.doc_id,
         |  CAST(CASE WHEN b.deg = 0 THEN b.seed_s
         |       ELSE ($Retain * b.seed_s + ${100 - Retain}
         |             * (COALESCE(nb.sum_s, 0) // b.deg)) // 100 END
         |    AS BIGINT) AS s
         |  FROM base b LEFT JOIN (
         |    SELECT e.dst AS doc_id, SUM(p.s) AS sum_s
         |    FROM edges e JOIN s${k - 1} p ON e.src = p.doc_id
         |    GROUP BY 1) nb USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseCtes,
       |s0 AS (SELECT doc_id, seed_s AS s FROM base),
       |$iterCtes
       |SELECT b.doc_id AS doc_id, b.deg, b.seed_s,
       |  f.s AS score_fp
       |FROM base b JOIN s$Iters f ON b.doc_id = f.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** Shared t81/t81c Spark run: graph build → recurrence → projection. */
  private def runPropagation(s: SparkSession, d: String,
      star: Boolean): DataFrame = {
    val (edges, base) = graphBase(s, d, star)
    base.join(propagateScores(edges, base), Seq("doc_id"))
      .select(col("doc_id"), col("deg"), col("seed_s"),
        col("s").as("score_fp"))
      .orderBy("doc_id")
  }

  val t81ScorePropagation: QuerySpec =
    QuerySpec.sql(
      "t81_score_propagation",
      propagationOracleSql(GraphBaseCtesSql))(
      (s, d) => runPropagation(s, d, star = false))

  /** T81C — the SAME propagation recurrence on t32's STAR edge set:
    * the production-topology twin. The full-pair graph (t81) is
    * quadratic in duplication depth — the t2 parity-side property —
    * while the star graph is linear (m−1 hub edges per band bucket),
    * which is what a 100 TB near-dup graph actually looks like; this
    * gate proves the loop is edge-frame agnostic by RUNNING it there,
    * not by claiming it. Scores differ from t81's by design (sparser
    * neighborhoods average fewer neighbors); the recurrence, seeds,
    * and fixed-point discipline are byte-shared. */
  val t81cPropagationStar: QuerySpec =
    QuerySpec.sql(
      "t81c_propagation_star",
      propagationOracleSql(GraphBaseStarCtesSql))(
      (s, d) => runPropagation(s, d, star = true))

  /** T81B — PAGERANK on the same graph (Page et al. 1999; damping
    * 0.85 as the integer 85/100, uniform teleport mass 15 % of
    * [[Scale]]): pr ← (15·Scale + 85·Σ_in (pr_u div deg_u)) / 100,
    * all nodes starting at Scale. Dangling (deg-0) mass is dropped,
    * the standard streaming simplification — documented, identical in
    * both engines. High pr = structurally central in the duplication
    * topology = template/boilerplate hubs. */
  val t81bGraphPagerank: QuerySpec = {
    val iterCtes = (1 to Iters).map { k =>
      s"""pr$k AS (SELECT b.doc_id, b.deg,
         |  CAST((15 * $Scale + $Damp * COALESCE(nb.w, 0)) // 100
         |    AS BIGINT) AS pr
         |  FROM base b LEFT JOIN (
         |    SELECT e.dst AS doc_id, SUM(p.pr // p.deg) AS w
         |    FROM edges e JOIN pr${k - 1} p ON e.src = p.doc_id
         |    GROUP BY 1) nb USING (doc_id))""".stripMargin
    }.mkString(",\n")
    QuerySpec.sql(
      "t81b_graph_pagerank",
      s"""WITH $GraphBaseCtesSql,
         |pr0 AS (SELECT doc_id, deg, CAST($Scale AS BIGINT) AS pr
         |        FROM base),
         |$iterCtes
         |SELECT doc_id, deg, pr AS pr_fp
         |FROM pr$Iters
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (edges, base) = graphBase(s, d)
      pagerankScores(edges, base)
        .select(col("doc_id"), col("deg"), col("pr").as("pr_fp"))
        .orderBy("doc_id")
    }
  }

  val all: Seq[QuerySpec] =
    Seq(t81ScorePropagation, t81bGraphPagerank, t81cPropagationStar)
}
