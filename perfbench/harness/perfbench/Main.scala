package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line arguments of one run; `run.py` supplies all of them. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, spans: String, tmp: String,
    action: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), need("spans"), need("tmp"),
      m.getOrElse("action", "noop"))
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(Set("noop", "count").contains(a.action), s"unknown action ${a.action}")
    a
  }
}

/** One benchmark run in a fresh JVM: set up the session, run the
  * workload's first pass and then warm passes for the requested seconds,
  * check the outputs of the last counted warm pass off the timed path,
  * and write the raw record (and, when traced, the span file) for
  * `run.py` to reduce. */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = Args.parse(argv)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val nproc = Runtime.getRuntime.availableProcessors
    // Set-up is timed once, from the start of main to a ready session:
    // only the first session of a JVM pays class loading and JIT warm-up.
    val spark = session(nproc, a.tmp)
    val setup = (System.nanoTime() - t0) / 1e9
    val probeBefore = cpuProbe()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, a, tracer)
    val b0 = System.nanoTime()
    val body =
      if (a.workload == "stream_ingest") new StreamIngest(runner).run()
      else new BatchRun(runner, Workloads.batch(a.workload)).run()
    val b1 = System.nanoTime()
    tracer.foreach { t =>
      t.detach()
      t.add(Span("run", "", "run", a.workload, "", Clock.ms(b0), Clock.ms(b1)))
      val w = new PrintWriter(a.spans, "UTF-8")
      try t.all.foreach(s => w.println(s.json)) finally w.close()
    }
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "action" -> a.action, "nproc" -> nproc,
      "load_before" -> loadBefore, "load_after" -> os.getSystemLoadAverage,
      "cpu_probe_s" -> Seq(probeBefore, cpuProbe()),
      "setup_s" -> setup, "counted_warm" -> runner.countedWarm,
      "uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3) ++ body
    val w = new PrintWriter(a.out, "UTF-8")
    try w.println(Json(record)) finally w.close()
    spark.stop()
  }

  /** The engine's session (GraftExtensions installed) on local[nproc]
    * with nproc shuffle partitions, its scratch kept under `tmp`.
    * Touching `sessionState` builds the session state, which applies the
    * extensions. */
  private def session(nproc: Int, tmp: String): SparkSession = {
    val s = graft.spark.Sessions.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", new File(tmp, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sessionState
    s
  }

  /** Wall seconds of a fixed single-thread integer loop: the host's
    * effective clock, recorded before and after the run. */
  private def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** One pass of a workload. Pass 0 is the first pass in a fresh JVM. In
  * the pass with `check` set (the last counted warm pass) each output is
  * checked right after the operation that produced it, off the timed
  * path, so memo reuse and the seeded cross-query order are what the
  * check sees. */
final case class Pass(index: Int, traced: Boolean, check: Boolean) {
  def kind: String = if (index == 0) "first" else "warm"
  def id: String = s"p$index"
}

/** What the batch and streaming workloads share: the session, the
  * tracer, per-pass JVM counters and the pass loop. */
final class Runner(val spark: SparkSession, val args: Args, val tracer: Option[Tracer]) {
  /** Warm passes the metrics use. Passes keep getting faster for several
    * passes after the first (JIT), so the metrics always use the same
    * number of them: a faster build must not get more, warmer passes
    * counted. One keeps a run under a minute; the spread between runs
    * comes from the host, not from the pass count (README.md). A
    * traced run has two: it traces pass 1 and leaves pass 2 untraced, so
    * their ratio is the tracing overhead. The last counted pass is the
    * checked one. */
  val countedWarm: Int = if (tracer.nonEmpty) 2 else 1
  val rng = new scala.util.Random(args.seed)

  /** Runs the first pass (traced in a traced run), then the counted warm
    * passes, the last of them checked, then more until `seconds` of warm
    * passes have passed. */
  def passes(body: Pass => Map[String, Any]): Seq[Map[String, Any]] = {
    val out = ArrayBuffer[Map[String, Any]]()
    out += pass(Pass(0, tracer.nonEmpty, check = false), body)
    val w0 = System.nanoTime()
    var i = 1
    while (i <= countedWarm || (System.nanoTime() - w0) / 1e9 < args.seconds) {
      out += pass(Pass(i, tracer.nonEmpty && i % 2 == 1, check = i == countedWarm), body)
      i += 1
    }
    out.toSeq
  }

  private def pass(p: Pass, body: Pass => Map[String, Any]): Map[String, Any] = {
    tracer.foreach(t => if (p.traced) t.attach() else t.detach())
    val c0 = counters()
    val p0 = System.nanoTime()
    val r = body(p)
    val p1 = System.nanoTime()
    tracer.foreach(_.drain())
    val c1 = counters()
    span(p.traced, p.id, "run", "pass", p.kind, "", p0, p1)
    val retained = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val heap = liveHeapMb()
    Map("kind" -> p.kind, "index" -> p.index, "traced" -> p.traced,
      "heap_live_mb" -> heap, "retained_mb" -> retained) ++
      c1.map { case (k, v) => k -> (v - c0(k)) } ++ r
  }

  /** Heap in use once full collections stop freeing memory. Spark's
    * ContextCleaner frees the blocks of unreachable plans (broadcasts,
    * shuffles) asynchronously, so the heap takes a few rounds of
    * collecting and letting the cleaner run to settle; how many depends
    * on which query ran last. Up to ten rounds. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) >= 1.0 && rounds < 10) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Cumulative JVM and codegen counters; passes record their deltas. */
  private def counters(): Map[String, Double] = {
    val (compiles, compileNs) = PerfbenchBridge.codegen()
    Map(
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3,
      "codegen_compiles" -> compiles.toDouble,
      "codegen_compile_s" -> compileNs / 1e9)
  }

  private val qids = new java.util.concurrent.atomic.AtomicLong(0L)
  def newQid(): String = s"q${qids.incrementAndGet()}"

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}"

  /** Records span `id` under `parent` when the pass is traced. */
  def span(traced: Boolean, id: String, parent: String, kind: String, name: String,
      qid: String, t0: Long, t1: Long): Unit =
    if (traced) tracer.foreach(_.add(Span(id, parent, kind, name, qid,
      Clock.ms(t0), Clock.ms(t1))))
}

/** A batch workload: each operation builds one query's DataFrame by
  * calling its registry entry, then materializes every row and column
  * with the `noop` sink. */
final class BatchRun(r: Runner, ops: Seq[Workloads.Op]) {
  import r.{args, spark, tracer}

  def run(): Map[String, Any] = {
    val checks = ArrayBuffer[Map[String, Any]]()
    val passes = r.passes { p =>
      Map("ops" -> r.rng.shuffle(ops).map(op => runOp(op, p, checks)))
    }
    Map("passes" -> passes, "checks" -> checks.toSeq)
  }

  private def act(df: DataFrame): Unit =
    if (args.action == "count") df.count()
    else df.write.format("noop").mode("overwrite").save()

  private def runOp(op: Workloads.Op, p: Pass,
      checks: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val traced = p.traced
    val qid = r.newQid()
    tracer.foreach(_.enter(s"$qid.b", qid))
    val t0 = System.nanoTime()
    var t1 = 0L
    var df: DataFrame = null
    val err =
      try {
        df = op.spec.run(spark, args.data)
        t1 = System.nanoTime()
        tracer.foreach(_.enter(s"$qid.a", qid))
        act(df)
        None
      } catch { case e: Exception => Some(r.error(e)) }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    if (traced) tracer.foreach { t =>
      t.drain()
      if (df != null) t.planSpans(df.queryExecution, s"$qid.b", qid)
        .filter(_.name == "analysis").foreach(t.add)
    }
    r.span(traced, qid, p.id, "query", op.name, qid, t0, t2)
    r.span(traced, s"$qid.b", qid, "build", op.name, qid, t0, t1)
    r.span(traced, s"$qid.a", qid, "action", op.name, qid, t1, t2)
    tracer.foreach(_.leave())
    if (p.check) {
      tracer.foreach(_.ignore())
      val c0 = System.nanoTime()
      val fp =
        if (err.nonEmpty) Left("query failed")
        else try Right(Fingerprint.of(df)) catch { case e: Exception => Left(r.error(e)) }
      tracer.foreach(_.leave())
      checks += Map("name" -> op.name, "fingerprint" -> fp.toOption,
        "error" -> fp.left.toOption, "check_s" -> (System.nanoTime() - c0) / 1e9)
    }
    Map("qid" -> qid, "name" -> op.name, "module" -> op.module,
      "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
      "wall_s" -> (t2 - t0) / 1e9, "error" -> err)
  }
}
