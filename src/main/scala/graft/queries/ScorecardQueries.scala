package graft.queries

import org.apache.spark.sql.functions._

/** T67 — the PER-SOURCE SCORECARD: one row per source joining the
  * three per-source views a curation run publishes — the curation
  * report (t66: contribution, survival, where the drops went), the
  * tokenizer-fit rollup (t63: token mass and BPE fertility) and the
  * content-diversity estimate (t62: distinct-3-gram HLL) — into the
  * single frame a data lead reads to decide which sources to re-crawl,
  * renegotiate, up-weight or drop. Composition is the x8/t66 pattern:
  * the Spark side runs the three gated queries and joins their
  * outputs; the oracle embeds the three gates' own oracle SQL as
  * subqueries, so the scorecard can never disagree with any component
  * gate.
  *
  * Scale shape: each component is already source-grained — the join is
  * three ~20-row frames (broadcast by AQE), costing nothing beyond the
  * component scans themselves (t66 rides the standing cluster frames;
  * t63's merges table is standing; the HLL side is one scan). The
  * sketch column comes via [[SketchQueries.hllSourceEst]] — the SAME
  * register build + estimate arithmetic as the t62 gate (one factored
  * helper, no drift possible) WITHOUT t62's corpus-wide `exact_n`
  * probe or '__all' union row, per the probe-column convention
  * documented on t62/t55: the probe is gate-scale truth, production
  * consumers read the sketch alone. The ORACLE still embeds t62's full
  * SQL (its probe costs nothing in DuckDB and keeps the subquery
  * verbatim-identical to the gate's); only `est` is selected, so the
  * compared cells are the shared arithmetic. */
object ScorecardQueries {

  val t67SourceScorecard: QuerySpec = QuerySpec.sql(
    "t67_source_scorecard",
    s"""SELECT c.source, c.n_docs, c.n_selected, c.n_quality_drop,
       |  c.n_dup_drop, c.sel_rate, f.n_tokens, f.fertility,
       |  h.est AS distinct_3gram_est
       |FROM (${TextQueries.t66SourceCuration.oracle.get}) c
       |JOIN (${BpeQueries.t63SourceFertility.oracle.get}) f USING (source)
       |JOIN (${SketchQueries.t62HllCardinality.oracle.get}) h USING (source)
       |ORDER BY source""".stripMargin) { (s, d) =>
    val c = TextQueries.t66SourceCuration.run(s, d)
      .select("source", "n_docs", "n_selected", "n_quality_drop",
        "n_dup_drop", "sel_rate")
    val f = BpeQueries.t63SourceFertility.run(s, d)
      .select("source", "n_tokens", "fertility")
    val h = SketchQueries.hllSourceEst(s, d)
      .select(col("source"), col("est").as("distinct_3gram_est"))
    c.join(f, "source").join(h, "source").orderBy("source")
  }

  val all: Seq[QuerySpec] = Seq(t67SourceScorecard)
}
