package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `qid` is shared by every span of one query (or
  * one streaming leg); times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    qid: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty) {
  def json: String = Json(Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "qid" -> qid, "start" -> startMs, "end" -> endMs,
    "attrs" -> attrs))
}

object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def ms(nano: Long): Double = epoch0 + (nano - nano0) / 1e6
}

/** Records spans in memory from Spark's public listeners: jobs, stages
  * and tasks (SparkListener), planning phases (QueryExecutionListener)
  * and micro-batches (StreamingQueryListener). The harness opens the
  * run, pass, query, build and action spans itself; every job carries
  * its parent span in a local property, so attribution does not depend
  * on event timing. Listeners are attached only for traced passes. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong(0L)
  private val current = new AtomicReference[(String, String)](("", ""))
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), Array[Double]]()
  private val jobOpen = new ConcurrentHashMap[Int, (Double, String, String, String)]()
  private val legs = new ConcurrentHashMap[String, (String, String)]()
  @volatile private var attached = false

  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def nextId(prefix: String): String = s"$prefix${seq.incrementAndGet()}"

  /** Jobs submitted from here on belong to `spanId` of query `qid`. */
  def enter(spanId: String, qid: String): Unit = {
    current.set((spanId, qid))
    sc.setLocalProperty(SpanKey, s"$spanId|$qid")
  }

  /** Jobs submitted from here on are not recorded (output checks). */
  def ignore(): Unit = enter(Skip, Skip)

  def leave(): Unit = {
    current.set(("", ""))
    sc.setLocalProperty(SpanKey, null)
  }

  /** Streaming progress events of query `name` belong to `spanId`. */
  def leg(name: String, spanId: String, qid: String): Unit =
    legs.put(name, (spanId, qid))

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    spark.streams.addListener(batches)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(batches)
    attached = false
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = if (attached) PerfbenchBridge.drain(sc)

  private def owner(props: java.util.Properties): (String, String) =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))) match {
      case Some(v) => v.split('|') match {
        case Array(s, q) => (s, q)
        case _ => ("untracked", "")
      }
      case None => ("untracked", "")
    }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (parent, qid) = owner(e.properties)
      if (parent != Skip) {
        val sid = s"j${e.jobId}"
        e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (sid, qid)))
        val name = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("")
        jobOpen.put(e.jobId, (e.time.toDouble, parent, qid, name))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (t0, parent, qid, name) =>
        val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
        add(Span(s"j${e.jobId}", parent, "job", name, qid, t0, e.time.toDouble,
          Map("succeeded" -> ok)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageOwner.containsKey(e.stageId)) {
        val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Array[Double](TaskFields.size))
        val info = e.taskInfo
        val m = e.taskMetrics
        acc.synchronized {
          acc(0) += 1
          if (e.reason != Success) acc(1) += 1
          if (m != null) {
            val run = m.executorRunTime.toDouble
            val deser = m.executorDeserializeTime.toDouble
            val ser = m.resultSerializationTime.toDouble
            val getting =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
              else 0L
            acc(2) += m.executorCpuTime / 1e9
            acc(3) += run / 1e3
            acc(4) += deser / 1e3
            acc(5) += m.jvmGCTime / 1e3
            acc(6) += m.shuffleReadMetrics.totalBytesRead / 1e6
            acc(7) += m.shuffleWriteMetrics.bytesWritten / 1e6
            acc(8) += m.shuffleReadMetrics.fetchWaitTime / 1e3
            acc(9) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
            acc(10) += m.inputMetrics.bytesRead / 1e6
            acc(11) += math.max(0.0,
              (info.finishTime - info.launchTime) - run - deser - ser - getting) / 1e3
          }
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageOwner.get(si.stageId)).foreach { case (jobSpan, qid) =>
        val acc = Option(stageAcc.remove((si.stageId, si.attemptNumber())))
          .getOrElse(new Array[Double](TaskFields.size))
        val t0 = si.submissionTime.getOrElse(0L).toDouble
        val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
        add(Span(s"s${si.stageId}.${si.attemptNumber()}", jobSpan, "stage",
          si.name, qid, t0, t1, TaskFields.zip(acc).toMap))
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val (parent, qid) = current.get
      if (parent.nonEmpty && parent != Skip) planSpans(qe, parent, qid).foreach(add)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Analysis, optimization and physical-planning spans of one query
    * execution, from its QueryPlanningTracker. */
  def planSpans(qe: QueryExecution, parent: String, qid: String): Seq[Span] =
    qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map { case (phase, ph) =>
      Span(nextId("plan"), parent, "plan", phase, qid,
        ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)
    }

  private val batches = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(legs.get(p.name)).foreach { case (parent, qid) =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }
        val st = p.stateOperators.toSeq
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        add(Span(s"b${nextId("")}", parent, "batch", s"${p.name}#${p.batchId}", qid,
          t0, t0 + d.getOrElse("triggerExecution", 0.0) * 1e3, Map(
            "rows" -> p.numInputRows.toDouble,
            "trigger_s" -> d.getOrElse("triggerExecution", 0.0),
            "add_batch_s" -> d.getOrElse("addBatch", 0.0),
            "plan_s" -> d.getOrElse("queryPlanning", 0.0),
            "wal_s" -> d.getOrElse("walCommit", 0.0),
            "offset_s" -> d.getOrElse("latestOffset", 0.0),
            "state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
            "state_mb" -> st.map(_.memoryUsedBytes / 1e6).sum,
            "state_commit_s" -> st.map(_.commitTimeMs / 1e3).sum,
            "late_rows" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum)))
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Skip = "skip"
  val TaskFields: Seq[String] = Seq("tasks", "failed_tasks", "cpu_s", "run_s",
    "deser_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "fetch_wait_s",
    "spill_mb", "input_mb", "delay_s")
}
