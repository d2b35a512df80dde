package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization contracts beyond the t44/t45 oracle rows:
  * the ADC self-distance identity (ADC(q, enc(q)) is EXACTLY q's own
  * quantization error — the asymmetric-distance algebra, not an
  * approximation), code-space bounds, and the broadcast shape of the
  * ADC scan (codebooks and lookup tables are models, never shuffled).
  */
class PqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every code word has M entries drawn from the k-seed id space") {
    // codes arrive concat_ws-serialized (the gate's scalar-output
    // convention) — split back to the array for the bounds check
    val enc = VectorQueries.t44PqEncode.run(spark, sf)
      .withColumn("__c", split(col("codes"), ",").cast("array<bigint>"))
    val bad = enc.filter(
      size(col("__c")) =!= 4 ||
        exists(col("__c"), c => c.isNull || c < 0 || c >= 8) ||
        col("qerr") < 0)
    assert(bad.count() === 0)
    assert(enc.count() === 500)
  }

  test("ADC distance from a vector to its own codes equals its qerr") {
    // ADC(q, enc(q)) = Σ_m dist(q_m, centroid(code_m(q))) — each term
    // is by definition the subspace quantization error of q, so the
    // total is t44's qerr EXACTLY. A lookup-table indexing bug (wrong
    // sub, off-by-one code, float drift) breaks the identity.
    val enc = VectorQueries.t44PqEncode.run(spark, sf)
      .select(col("vec_id").as("qid"), col("qerr"))
    val selfAdc = VectorQueries.pqSelfAdc(spark, sf)
    val joined = selfAdc.join(enc, "qid")
      .filter(col("adist") =!= col("qerr"))
    assert(joined.count() === 0,
      "ADC(q, enc(q)) != qerr(q) for some query")
    // and t45 delivers exactly top-3 per query
    val top = VectorQueries.t45PqAdcTopk.run(spark, sf)
    assert(top.groupBy("qid").count().filter(col("count") =!= 3).count() === 0)
  }

  test("every IVF-PQ result comes from a probed inverted list") {
    // the coarse stage may only SHRINK the candidate set: each output
    // neighbor's list id must be one of the query's nprobe lists, and
    // the neighbor must actually be assigned to that list
    val ranked = VectorQueries.ivfRanked(
      graft.Tables.embeddings(spark, sf), VectorQueries.IvfCentroids)
      .localCheckpoint()
    val probes = ranked
      .filter(col("crn") <= VectorQueries.IvfProbes && col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("cid"))
    val assign = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("nid"), col("cid"))
    val out = VectorQueries.t46IvfPq.run(spark, sf)
    val offList = out.join(probes, Seq("qid", "cid"), "left_anti")
      .unionByName(out.join(assign, Seq("nid", "cid"), "left_anti"))
    assert(offList.count() === 0, "t46 returned a neighbor outside the probed lists")
    assert(out.groupBy("qid").count().filter(col("count") > 3).count() === 0)
  }

  test("the ADC scan broadcasts the lookup table — no corpus-side shuffle join") {
    val plan = VectorQueries.t45PqAdcTopk.run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "ADC candidate join must be broadcast")
  }

  test("a held t45 frame still counts after t44 rebuilds the codes") {
    // a rebuilt standing artifact must not free blocks a live frame reads
    val held = VectorQueries.t45PqAdcTopk.run(spark, sf)
    val n = held.count()
    VectorQueries.t44PqEncode.run(spark, sf).count()
    assert(held.count() === n)
  }

  test("PQ serve over an empty query set returns no rows") {
    val e = VectorQueries.embScaledOf(graft.Tables.embeddings(spark, sf))
    val none = e.filter(lit(false))
    val (enc, lut) = VectorQueries.pqServeModel(spark, sf,
      none.select("vec_id", "embedding"))
    val qvecs = none.select(col("vec_id").as("qid"), col("eL").as("qL"),
      col("ss").as("qss"))
    val edges = e.select(col("vec_id").as("qid"), col("vec_id").as("nid"))
    val ents = e.select(col("vec_id").as("nid")).orderBy("nid").limit(4)
    val out = VectorQueries.knnServePqVecs(e, edges, enc, lut, qvecs, ents,
      8, 2, 3)
    assert(out.columns.toSeq === Seq("qid", "nid", "cosine", "rank"))
    assert(out.count() === 0)
  }
}
