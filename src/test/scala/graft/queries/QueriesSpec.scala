package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Registry-wide execution spec at sf0.001: every query runs, has the
  * oracle's column names, and the structurally-guaranteed ones return
  * rows. (The value-level gate is the DuckDB compare — tools/check.py.) */
class QueriesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // Queries whose result can legitimately be empty at tiny SF
  // (near-dup pairs depend on planted duplicates).
  private val mayBeEmpty = Set("t2_minhash_lsh", "t4_ngram_jaccard")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without oracle (add one or mark rows-only): $noOracle")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // gate-output convention: scalar columns only (the driver's
      // pandas checker dies on array/map/struct cells — r12 t41b/t44)
      graft.Verify.guardScalarOutput(name, df.schema)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("guardScalarOutput rejects array/map/struct, passes scalars") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val scalar = Seq((1L, "a")).toDF("x", "y")
    graft.Verify.guardScalarOutput("ok", scalar.schema)
    val arr = scalar.select(col("x"), array(col("y")).as("ys"))
    val e = intercept[IllegalStateException] {
      graft.Verify.guardScalarOutput("bad", arr.schema)
    }
    assert(e.getMessage.contains("ys") && e.getMessage.contains("f15"))
    val mp = scalar.select(map(col("y"), col("x")).as("m"))
    intercept[IllegalStateException] {
      graft.Verify.guardScalarOutput("bad2", mp.schema)
    }
    val st = scalar.select(struct(col("x")).as("s"))
    intercept[IllegalStateException] {
      graft.Verify.guardScalarOutput("bad3", st.schema)
    }
  }

  /** Each composer of standing artifacts, with the builder queries of
    * the artifacts it reads: its rows must not depend on whether those
    * builders already ran in the session. */
  private val composers = Seq(
    "t28_curation_manifest" -> Seq("t34_rep_dedup"),
    "t28b_manifest_star" -> Seq("t32_star_clusters"),
    "t33_star_parity" -> Seq("t21_dup_clusters", "t32_star_clusters"),
    "t36_semantic_star_parity" ->
      Seq("t26_semantic_clusters", "t35_semantic_star"),
    "t45_pq_adc_topk" -> Seq("t44_pq_encode"),
    "t46_ivf_pq" -> Seq("t44_pq_encode"),
    "t47_ivf_pq_refine" -> Seq("t44_pq_encode"),
    "t51_bpe_segment" -> Seq("t50_bpe_train"),
    "t61_winnow_pairs" -> Seq("t60_winnowing"),
    "t61b_winnow_pairs_prod" -> Seq("t60_winnowing"),
    "t66_source_curation" -> Seq("t32_star_clusters"),
    "t83_knn_serve" -> Seq("t82_knn_graph"),
    "t85_routed_serve" -> Seq("t82c_knn_graph_fill"),
    "t86_graph_delete" -> Seq("t82c_knn_graph_fill"),
    "t87_pq_serve" -> Seq("t82c_knn_graph_fill", "t44_pq_encode"),
    "t88_graph_consolidate" -> Seq("t82c_knn_graph_fill"))

  private def rows(name: String, s: org.apache.spark.sql.SparkSession) =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).sorted.toSeq

  composers.foreach { case (composer, builders) =>
    test(s"$composer rows are the same in a fresh session") {
      builders.foreach(b => SparkEntry.queries(b)(spark, sf).count())
      val warm = rows(composer, spark)
      val fresh = rows(composer, spark.newSession())
      assert(warm.nonEmpty)
      assert(warm === fresh)
    }
  }
}
