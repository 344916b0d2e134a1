package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.operators.NlpService

/** Clock shared by every span: `System.nanoTime` for what the harness
  * times itself, and epoch milliseconds mapped onto the same axis for
  * what Spark's listeners report.
  */
object Clock {
  private val nanoAtEpochMs0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now: Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = nanoAtEpochMs0 + (ms - epochMs0) * 1000000L
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // The JIT compiler threads, found once: run.py starts the JVM with
  // -XX:-UseDynamicNumberOfCompilerThreads, so they live as long as it does.
  private val compilerStats: Seq[Path] = Try {
    Files.list(Paths.get("/proc/self/task")).iterator.asScala.toSeq
      .filter(t => Files.readString(t.resolve("comm")).contains("CompilerThre"))
      .map(_.resolve("schedstat"))
  }.getOrElse(Nil)

  /** CPU time used so far by the JVM, leaving out its JIT compiler
    * threads. On a virtual machine with steal-time accounting it also
    * leaves out the time the host took the vCPUs away, which wall time
    * cannot. Resolution: the kernel's tick (10 ms) for the process total.
    */
  def cpuNs: Long =
    os.getProcessCpuTime - compilerStats.map(p => Try(Files.readString(p).split(' ')(0).toLong).getOrElse(0L)).sum
}

/** `Clock.cpuNs` sampled every 10 ms on a daemon thread, so
  * that the CPU spent in a window the harness learns of only afterwards (a
  * micro-batch, from its progress event) can be read back.
  */
final class CpuTimeline {
  private val at = mutable.ArrayBuffer.empty[Long]
  private val cpu = mutable.ArrayBuffer.empty[Long]
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val (t, c) = (Clock.now, Clock.cpuNs)
      at.synchronized { at += t; cpu += c }
      Thread.sleep(10)
    }
  }, "perfbench-cpu-timeline")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** CPU ns spent between two `Clock.now` instants, interpolated linearly
    * between the samples around each.
    */
  def cpuBetween(from: Long, to: Long): Long = at.synchronized {
    def cpuAt(t: Long): Double = {
      val i = at.search(t).insertionPoint
      if (i == 0) cpu.head.toDouble
      else if (i >= at.size) cpu.last.toDouble
      else {
        val (t0, t1) = (at(i - 1), at(i))
        cpu(i - 1) + (cpu(i) - cpu(i - 1)).toDouble * (t - t0) / math.max(1L, t1 - t0)
      }
    }
    math.round(cpuAt(to) - cpuAt(from))
  }
}

/** One span at a layer boundary. `level` orders the boundaries
  * (drain/query 0, trigger or build/plan/exec 1, Spark job 2, NLP request
  * or ES bulk 3); a span recorded without a known parent (0) gets the
  * tightest enclosing span of a lower level when the spans are written.
  */
final case class Span(id: Long, parent: Long, level: Int, layer: String,
    name: String, start: Long, end: Long)

/** In-memory span store. Spans are only recorded while `on`; they are
  * written out once, when the run ends.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()
  def record(parent: Long, level: Int, layer: String, name: String, start: Long, end: Long): Long = {
    val id = nextId()
    if (on) spans.add(Span(id, parent, level, layer, name, start, end))
    id
  }
  def all: Seq[Span] = spans.asScala.toSeq

  /** Depth of a layer in the call chain: a deeper layer active at an
    * instant owns that instant.
    */
  val Depth: Map[String, Int] =
    Map("query" -> 1, "streaming" -> 1, "spark" -> 2, "nlp" -> 3, "es" -> 3)

  /** Self time per layer over [from, to]: every instant goes to the
    * deepest layer with a span open at it (split evenly between equally
    * deep layers), and instants with no span open go to `bench`.
    */
  def selfTimes(ss: Seq[Span], from: Long, to: Long): Map[String, Double] = {
    val ev = mutable.ArrayBuffer.empty[(Long, Int, String)]
    ss.foreach { s =>
      val a = math.max(s.start, from); val b = math.min(s.end, to)
      if (b > a) { ev += ((a, 1, s.layer)); ev += ((b, -1, s.layer)) }
    }
    val sorted = ev.sortBy(e => (e._1, e._2))
    val open = mutable.Map.empty[String, Int].withDefaultValue(0)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var t = from
    def credit(until: Long): Unit = if (until > t) {
      val active = open.filter(_._2 > 0).keys.toSeq
      val dt = (until - t).toDouble
      if (active.isEmpty) acc("bench") += dt
      else {
        val d = active.map(l => Depth.getOrElse(l, 0)).max
        val top = active.filter(l => Depth.getOrElse(l, 0) == d)
        top.foreach(l => acc(l) += dt / top.size)
      }
      t = until
    }
    sorted.foreach { case (at, kind, layer) =>
      credit(at)
      open(layer) += kind
    }
    credit(to)
    acc.toMap.map { case (k, v) => k -> v / 1e9 }
  }

  /** Fills in missing parents: the tightest span of a lower level whose
    * interval holds the span's start. Spans of one level never overlap
    * except at level 3, which no span descends from.
    */
  def withParents(ss: Seq[Span]): Seq[Span] = {
    val byLevel = ss.filter(_.level < 3).groupBy(_.level).map { case (l, v) => l -> v.sortBy(_.start).toArray }
    def enclosing(s: Span): Long =
      (s.level - 1 to 0 by -1).iterator.flatMap { l =>
        byLevel.get(l).flatMap { arr =>
          var lo = 0; var hi = arr.length - 1; var best = -1
          while (lo <= hi) { val mid = (lo + hi) >>> 1; if (arr(mid).start <= s.start) { best = mid; lo = mid + 1 } else hi = mid - 1 }
          if (best >= 0 && arr(best).end >= s.start) Some(arr(best).id) else None
        }
      }.nextOption().getOrElse(0L)
    ss.map(s => if (s.parent != 0 || s.level == 0) s else s.copy(parent = enclosing(s)))
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    var first = true
    withParents(all).sortBy(_.start).foreach { s =>
      if (!first) sb.append(",\n")
      first = false
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""")
        .append(s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Timing decorator around the tagger the benchmark passes to the
  * pipeline: one `nlp` span per request, plus client-side in-flight count.
  * Runs inside Spark tasks; in local mode they share this JVM's `Trace`.
  */
final class TimedTagger(inner: NlpService.Tagger) extends NlpService.Tagger {
  override def annotate(doc: NlpService.Doc): Seq[NlpService.Annotation] = {
    val n = TimedTagger.inflight.incrementAndGet()
    TimedTagger.inflightMax.accumulateAndGet(n, math.max)
    val s = Clock.now
    try inner.annotate(doc)
    catch { case e: Exception => TimedTagger.errors.incrementAndGet(); throw e }
    finally {
      val e = Clock.now
      TimedTagger.inflight.decrementAndGet()
      TimedTagger.calls.incrementAndGet()
      TimedTagger.clientNs.addAndGet(e - s)
      Trace.record(0, 3, "nlp", "nlp.request", s, e)
    }
  }
}

object TimedTagger {
  val inflight = new AtomicInteger(0)
  val inflightMax = new AtomicInteger(0)
  val calls = new AtomicLong(0)
  val errors = new AtomicLong(0)
  val clientNs = new AtomicLong(0)
  def reset(): Unit = {
    inflight.set(0); inflightMax.set(0); calls.set(0); errors.set(0); clientNs.set(0)
  }
}

/** Every streaming trigger, captured from the listener bus (a query's
  * `recentProgress` keeps only the last 100).
  */
final class ProgressCollector extends StreamingQueryListener {
  import ProgressCollector.Trigger
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    terminated.add(e.runId.toString)
    terminated.synchronized(terminated.notifyAll())
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    triggers.add(Trigger(p.runId.toString, p.batchId,
      Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum,
      ops.map(_.commitTimeMs).sum))
  }

  /** Blocks until the listener has seen `runId` terminate: progress
    * events are delivered before the termination event.
    */
  def awaitTerminated(runId: String, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    terminated.synchronized {
      while (!terminated.contains(runId) && System.currentTimeMillis() < deadline)
        terminated.wait(50)
    }
    require(terminated.contains(runId), s"no termination event for streaming run $runId")
  }

  def forRun(runId: String): Seq[Trigger] =
    triggers.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

object ProgressCollector {
  final case class Trigger(runId: String, batchId: Long, startNs: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long, stateCommitMs: Long) {
    def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
    def endNs: Long = startNs + triggerMs * 1000000L
  }
}

/** Spark scheduler counters, taken from the public listener API. Jobs are
  * attributed to the workload step whose time window holds their
  * submission.
  */
final class JobCollector extends SparkListener {
  import JobCollector._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Int]()
  private val jobsEnded = new AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, Clock.fromEpochMs(e.time), -1L, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = Clock.fromEpochMs(e.time))
    jobsEnded.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val dur = info.duration
      val sched = dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      tasks.add(Task(e.stageId, e.stageAttemptId, dur, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, math.max(0L, sched), m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Waits until every started job has been seen to end and the bus has
    * been quiet for a moment.
    */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var lastTasks = -1
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded.get < jobs.size || tasks.size != lastTasks)) {
      lastTasks = tasks.size
      Thread.sleep(100)
    }
  }

  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startNs >= from && j.startNs < to).toSeq.sortBy(_.id)

  /** Layer counters for the jobs submitted in [from, to). */
  def metrics(from: Long, to: Long, cores: Int): Map[String, (Double, String)] = {
    val js = jobsIn(from, to)
    val stageIds = js.flatMap(_.stageIds).toSet
    val ts = tasks.asScala.filter(t => stageIds.contains(t.stageId)).toSeq
    val ss = stages.asScala.filter(stageIds.contains).toSeq
    val wall = (to - from) / 1e9
    val busy = Stats.unionNs(js.map(j => (j.startNs, if (j.endNs < 0) to else j.endNs)), from, to) / 1e9
    val mb = 1024.0 * 1024.0
    val skew = ts.groupBy(t => (t.stageId, t.stageAttempt)).values
      .filter(_.size >= 2)
      .map { g =>
        val d = g.map(_.durMs.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }
    Map(
      "spark.jobs" -> (js.size.toDouble, "count"),
      "spark.stages" -> (ss.size.toDouble, "count"),
      "spark.tasks" -> (ts.size.toDouble, "count"),
      "spark.sched_delay_s" -> (ts.map(_.schedMs).sum / 1e3, "s"),
      "spark.driver_gap_s" -> (math.max(0.0, wall - busy), "s"),
      "spark.task_run_s" -> (ts.map(_.runMs).sum / 1e3, "s"),
      "spark.task_cpu_s" -> (ts.map(_.cpuNs).sum / 1e9, "s"),
      "spark.gc_s" -> (ts.map(_.gcMs).sum / 1e3, "s"),
      "spark.cores_busy_frac" -> (if (wall > 0) ts.map(_.runMs).sum / 1e3 / (wall * cores) else 0.0, "ratio"),
      "spark.input_mb" -> (ts.map(_.inputBytes).sum / mb, "MB"),
      "spark.shuffle_read_mb" -> (ts.map(_.shuffleReadBytes).sum / mb, "MB"),
      "spark.shuffle_write_mb" -> (ts.map(_.shuffleWriteBytes).sum / mb, "MB"),
      "spark.spill_mb" -> (ts.map(_.spillBytes).sum / mb, "MB"),
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max, "ratio"))
  }

  /** One `spark` span per job submitted in [from, to). */
  def recordSpans(from: Long, to: Long): Unit =
    jobsIn(from, to).foreach { j =>
      Trace.record(0, 2, "spark", s"job ${j.id}", j.startNs, if (j.endNs < 0) to else j.endNs)
    }
}

object JobCollector {
  final case class Job(id: Int, startNs: Long, var endNs: Long, stageIds: Seq[Int])
  final case class Task(stageId: Int, stageAttempt: Int, durMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, schedMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Length of the union of intervals, clipped to [from, to]. */
  def unionNs(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = graft.functions.JsonUtil.quote(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
