package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the standing-artifact registry's staleness contract: entries
  * carry a content fingerprint of the backing parquet as their stamp,
  * so an input dir rewritten in-process rebuilds instead of serving the
  * old checkpointed frame; and a replaced entry is left to Spark's
  * cleaner, never released under a frame that still reads it. */
class MemoInvalidationSpec extends SparkSpec {
  import spark.implicits._

  test("fingerprint changes when the backing parquet is rewritten") {
    val dir = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f1 = Standing.fingerprint(dir, "documents")
    assert(f1.nonEmpty)
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f2 = Standing.fingerprint(dir, "documents")
    assert(f1 != f2, "rewriting the table must change the fingerprint")
    // stable when nothing changed
    assert(f2 == Standing.fingerprint(dir, "documents"))
  }

  test("winnow fingerprint memo invalidates on corpus rewrite") {
    // t61 composes on the memoized winnowing frame; after an in-process
    // rewrite of documents.parquet the pair set must track the NEW
    // corpus, not the stale checkpoint
    val dir = Files.createTempDirectory("graft-winnow-memo").toString
    val textA =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq((1L, textA), (2L, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r1 = TextQueries.t61WinnowPairs.run(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(r1 == Seq((1L, 2L)), "identical docs must pair")
    Seq((1L, textA),
        (3L, "one two three four five six seven eight nine ten els twl"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r2 = TextQueries.t61WinnowPairs.run(spark, dir).collect()
    assert(r2.isEmpty, "rewritten corpus has no pairs — stale memo served?")
  }

  test("memo reuses only under a matching stamp; a new stamp rebuilds") {
    val dir = Files.createTempDirectory("graft-stamp").toString
    def write(n: Int): Unit = spark.range(n).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    var builds = 0
    val a = Standing.declare[Unit, Int]("spec-stamp", "documents") {
      (_, _, _) => builds += 1; builds
    }
    write(1)
    val recorded = Standing.get(a, spark, dir)
    assert(Standing.get(a, spark, dir) === recorded && builds === 1,
      "a matching stamp must serve the recorded value")
    write(2)
    assert(Standing.get(a, spark, dir) === 2,
      "a changed stamp (rewritten input) must rebuild")
    // another dir or session is another key: it rebuilds too
    val other = Files.createTempDirectory("graft-stamp-other").toString
    assert(Standing.get(a, spark, other) === 3)
    assert(Standing.get(a, spark.newSession(), dir) === 4)
    // rebuild always builds, and get then serves what it recorded
    assert(Standing.rebuild(a, spark, dir) === 5)
    assert(Standing.get(a, spark, dir) === 5)
  }

  test("superseded unreachable checkpoint is reclaimed") {
    val a = Standing.declare[Unit, DataFrame]("spec-reclaim", "documents") {
      (s, _, _) => s.range(10).toDF("a").localCheckpoint()
    }
    val dir = Files.createTempDirectory("graft-reclaim").toString
    def cached(id: Int) = spark.sparkContext.getRDDStorageInfo.exists(_.id == id)
    // the first build goes out of scope here: only the registry held it
    val goneId = rddId(Standing.rebuild(a, spark, dir))
    assert(cached(goneId), "localCheckpoint must have persisted its RDD")
    val held = Standing.rebuild(a, spark, dir)
    val heldId = rddId(held)
    assert(goneId != heldId)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (cached(goneId) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!cached(goneId),
      "the cleaner must free a superseded checkpoint nothing references")
    assert(cached(heldId), "a referenced checkpoint keeps its blocks")
    assert(held.count() === 10)
    assert(Standing.get(a, spark, dir) eq held)
  }

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    case other => fail(s"expected LogicalRDD, got ${other.getClass}")
  }
}
