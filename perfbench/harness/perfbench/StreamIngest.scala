package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.queries.TextQueries
import graft.streaming.{SnapshotPoll, SnapshotStore, StreamingNearDup}

/** The streaming workload: two AvailableNow legs, one after the other,
  * each reading one staged file per micro-batch.
  *
  *  - `poll` streams `events` through [[SnapshotPoll.windowedStatus]]
  *    (keyed windowed state) into a [[SnapshotStore]] upsert sink with
  *    offline-fill. `SnapshotPoll.run` fixes its source options, so this
  *    leg assembles the same query from the door's public parts with
  *    `maxFilesPerTrigger=1`.
  *  - `neardup` streams `documents` through
  *    [[StreamingNearDup.candidates]] (flatMapGroupsWithState bucket
  *    state) into a memory sink.
  *
  * The seed sets the row-to-file split. Events are cut into contiguous
  * event-time ranges, so no row falls behind the watermark; documents
  * carry event times within 100 s of each other, so any split keeps them
  * inside it. Staged files live under the run's temp directory. */
final class StreamIngest(r: Runner) {
  import r.{args, spark, tracer}
  import spark.implicits._

  // Input per leg: an event-time prefix of `events` and a doc_id prefix
  // of `documents`, each cut into `Files_` micro-batch files. Sized so a
  // repetition of both legs takes a few seconds on a 4-core host.
  private val Files_ = 2
  private val PollRows = 20000
  private val Docs = 500
  private val Window_ = "1 hour"
  private val root = new File(args.tmp, "stream")
  private val pollDir = new File(root, "poll")
  private val dupDir = new File(root, "neardup")
  private val twinDir = new File(root, "twin")

  def run(): Map[String, Any] = {
    val s0 = System.nanoTime()
    stage()
    val staged = (System.nanoTime() - s0) / 1e9
    val schema = SnapshotPoll.eventsSchema(spark, pollDir.getPath)
    val dupSchema = spark.read.parquet(dupDir.getPath).schema
    val maxUser = spark.read.parquet(pollDir.getPath).agg(max("user_id")).head().getLong(0)
    val roster = (0L to maxUser + 100L).toArray
    val checks = ArrayBuffer[Map[String, Any]]()
    val passes = r.passes { p =>
      val poll = pollLeg(p, schema, roster, checks)
      val dup = dupLeg(p, dupSchema, checks)
      Map("ops" -> Seq(poll, dup))
    }
    Map("passes" -> passes, "checks" -> checks.toSeq, "stage_s" -> staged)
  }

  /** Writes each part of `df` (tagged by column `_b`) as one parquet file
    * named in part order, with increasing modification times so the file
    * source reads them in that order. */
  private def writeParts(df: DataFrame, dir: File): Unit = {
    val raw = new File(root, s"${dir.getName}-raw").getPath
    df.repartition(1).write.partitionBy("_b").parquet(raw)
    dir.mkdirs()
    val base = System.currentTimeMillis() - 3600000L
    (0 until Files_).foreach { b =>
      val part = new File(raw, s"_b=$b").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(dir, f"part-$b%05d.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(base + b * 1000L)
    }
  }

  private def stage(): Unit = {
    val events = spark.read.parquet(s"${args.data}/events.parquet")
    // file sizes within ±10 % of equal, so a seed moves batch boundaries
    // without changing how much work a batch does by much
    val weights = Seq.fill(Files_)(0.9 + 0.2 * r.rng.nextDouble())
    val cuts = weights.scanLeft(0.0)(_ + _).tail.init.map(c => (c / weights.sum * PollRows).toLong)
    val rank = row_number().over(Window.orderBy(col("ts"), col("event_id")))
    val part = cuts.map(c => when(col("_rn") > c, 1).otherwise(0)).reduce(_ + _)
    writeParts(events.orderBy(col("ts"), col("event_id")).limit(PollRows)
      .withColumn("_rn", rank).withColumn("_b", part).drop("_rn"), pollDir)

    val docs = spark.read.parquet(s"${args.data}/documents.parquet")
      .orderBy("doc_id").limit(Docs)
    writeParts(docs.select(col("doc_id"), col("text"),
      timestamp_seconds(lit(1700000000L) + col("doc_id") % 100).as("ts"),
      pmod(xxhash64(col("doc_id"), lit(args.seed)), lit(Files_)).as("_b")), dupDir)
    twinDir.mkdirs()
    docs.write.parquet(new File(twinDir, "documents.parquet").getPath)
  }

  private def leg(name: String, module: String, p: Pass)(
      start: (String, String) => StreamingQuery): Map[String, Any] = {
    val qid = r.newQid()
    val qname = s"${name}_p${p.index}"
    tracer.foreach { t => t.enter(qid, qid); t.leg(qname, qid, qid) }
    val t0 = System.nanoTime()
    var q: StreamingQuery = null
    val err =
      try {
        q = start(qname, new File(root, s"ckpt/$qname").getPath)
        q.awaitTermination()
        None
      } catch { case e: Exception => Some(r.error(e)) }
    val t1 = System.nanoTime()
    if (p.traced) tracer.foreach(_.drain())
    r.span(p.traced, qid, p.id, "query", name, qid, t0, t1)
    tracer.foreach(_.leave())
    val progress = Option(q).map(_.recentProgress.toSeq).getOrElse(Nil)
    Map("qid" -> qid, "name" -> name, "module" -> module,
      "wall_s" -> (t1 - t0) / 1e9, "error" -> err,
      "rows" -> progress.map(_.numInputRows).sum,
      "batches_s" -> progress.map(pr =>
        Option(pr.durationMs.get("triggerExecution")).map(_.doubleValue / 1e3).getOrElse(0.0)))
  }

  private def pollLeg(p: Pass, schema: StructType, roster: Array[Long],
      checks: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val store = new SnapshotStore
    val op = leg("poll", "SnapshotPoll", p) { (name, ckpt) =>
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(pollDir.getPath)
      val storeId = SnapshotStore.register(store)
      SnapshotPoll.windowedStatus(stream, Window_, Window_).writeStream
        .queryName(name).outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.foreachPartition { (it: Iterator[Row]) =>
            SnapshotStore.resolve(storeId).upsertAll(it.map { row =>
              (row.getAs[Long]("user_id"),
                row.getAs[java.sql.Timestamp]("window_start")) ->
                row.getAs[String]("last_status")
            })
          }
          store.fillMissing(roster.toSeq, "offline")
          ()
        }
        .start()
    }
    if (p.check) checks += check("stream.poll", op) { () =>
      val twin = SnapshotPoll.windowedStatus(spark.read.parquet(pollDir.getPath),
        Window_, Window_).select("user_id", "window_start", "last_status")
      val expected = twin.as[(Long, java.sql.Timestamp, String)].collect()
        .map { case (u, w, s) => (u, w) -> s }.toMap
      val got = store.windows
      val active = expected.keySet.map(_._1)
      val latest = store.latest
      val offlineOk = roster.forall(u => active(u) || latest.get(u).contains("offline"))
      val out = got.toSeq.map { case ((u, w), s) => (u, w, s) }
        .toDF("user_id", "window_start", "last_status")
      (if (got != expected) Some(s"store differs from batch windowedStatus (${got.size} vs ${expected.size} windows)")
       else if (!offlineOk) Some("offline-fill missed roster users")
       else None, out)
    }
    op
  }

  private def dupLeg(p: Pass, schema: StructType,
      checks: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val op = leg("neardup", "StreamingNearDup", p) { (name, ckpt) =>
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dupDir.getPath)
      StreamingNearDup.candidates(docs, "ts", Window_).writeStream
        .queryName(name).format("memory").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val table = s"neardup_p${p.index}"
    if (p.check) checks += check("stream.neardup", op) { () =>
      val got = spark.table(table).select("d1", "d2", "sigMatches").distinct()
        .toDF("d1", "d2", "sig_matches")
      val twin = TextQueries.t2MinhashLsh.run(spark, twinDir.getPath)
        .select("d1", "d2", "sig_matches")
      val g = got.as[(Long, Long, Int)].collect().toSet
      val e = twin.as[(Long, Long, Int)].collect().toSet
      (if (g != e) Some(s"pairs differ from batch t2_minhash_lsh (${g.size} vs ${e.size})")
       else None, got)
    }
    spark.catalog.dropTempView(table)
    op
  }

  /** Runs a leg's output check off the timed path; the fingerprint is of
    * the leg's own output. */
  private def check(name: String, op: Map[String, Any])(
      body: () => (Option[String], DataFrame)): Map[String, Any] = {
    tracer.foreach(_.ignore())
    val c0 = System.nanoTime()
    val res =
      if (op("error") != None) Left("leg failed")
      else try {
        val (mismatch, out) = body()
        mismatch.toLeft(Fingerprint.of(out))
      } catch { case e: Exception => Left(r.error(e)) }
    tracer.foreach(_.leave())
    Map("name" -> name, "fingerprint" -> res.toOption, "error" -> res.left.toOption,
      "check_s" -> (System.nanoTime() - c0) / 1e9)
  }
}
