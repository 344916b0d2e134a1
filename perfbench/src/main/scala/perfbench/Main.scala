package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.NlpService
import graft.sources.EsRest

/** One workload: `warmup` prepares its inputs and runs untimed passes of
  * the same shape as the measured ones, `measure` a timed phase of
  * `Workload.passes` passes.
  */
trait Workload {
  def warmup(): Unit
  def measure(seconds: Int, traced: Boolean): Phase
  def outcome: Outcome
}

object Workload {
  /** Passes in a measured phase: enough to fill `seconds` at the pass
    * time `nominalS` seen on a 4-vCPU host, and at least three, so that a
    * median ignores one slow pass. The count is fixed by the arguments, not
    * by the clock, so every run of a workload measures the same work
    * however fast the host is at the moment.
    */
  def passes(seconds: Int, nominalS: Double): Int = math.max(3, math.round(seconds / nominalS).toInt)
}

/** A measured phase: its window, how many passes it ran, the gated
  * end-to-end metrics (CPU time and heap), the same pass and step in wall
  * time, and (traced phases only) the workload's layer metrics.
  */
final case class Phase(from: Long, to: Long, passes: Int, e2e: Map[String, (Double, String)],
    wall: Map[String, (Double, String)], layers: Map[String, (Double, String)])

final case class Outcome(correct: Boolean, attempted: Long, failed: Long, problems: Seq[String])

/** Everything a workload shares: session, stubs, listeners, options. */
final class Ctx(val spark: SparkSession, val cpus: Int, val seed: Long, val dataRoot: String,
    val out: Path, val inject: String) {
  val work: Path = out.resolve("work")
  val progress = new ProgressCollector
  val jobs = new JobCollector
  var nlp: NlpStub = _
  var es: EsBulkStub = _
  def sfDir(sf: String): String = s"$dataRoot/$sf"

  /** Starts fresh stubs (stopping any earlier ones), each with at most
    * `cpus` server threads, and returns their round-trip floors in ms as
    * seen through the program's own clients.
    */
  def startStubs(): (Double, Double) = {
    stopStubs()
    nlp = new NlpStub(cpus)
    es = new EsBulkStub(cpus)
    val tagger = new NlpService.HttpTagger(nlp.url, maxRetries = 0, parse = Medcat.parse)
    val doc = NlpService.Doc(0L, "scan the join window")
    val conf = EsRest.EsConf(es.url)
    def floor(n: Int)(f: => Unit): Double = {
      (0 until 20).foreach(_ => f)
      Stats.median((0 until n).map { _ => val s = Clock.now; f; (Clock.now - s) / 1e6 })
    }
    val nlpRtt = floor(100)(tagger.annotate(doc))
    val esRtt = floor(50)(require(EsRest.ping(conf), "ES stub did not answer"))
    nlp.resetCounters(); es.resetCounters()
    (nlpRtt, esRtt)
  }

  def stopStubs(): Unit = {
    Option(nlp).foreach(_.stop())
    Option(es).foreach(_.stop())
  }
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)

  /** Heap in use right after a full collection: the live set. A
    * collection lets Spark's ContextCleaner see which RDDs (and their
    * `Stage.snapshot` blocks) became unreachable, and it drops their blocks
    * asynchronously; so collect until the reading settles (within 1 MB),
    * at most ten times, or the reading depends on the cleaner's timing.
    */
  def postGcHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 10) {
      Thread.sleep(100)
      val now = used()
      settled = math.abs(now - last) < 1.0
      last = now
      rounds += 1
    }
    last
  }
}

/** Benchmark entry point; see perfbench/README.md for the protocol.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--cpus 4] [--data perfbench/data] [--out perfbench/out]
  *                  [--inject corrupt-digest|drop-es-doc]
  *   perfbench.Main --write-digests perfbench/digests.json
  * }}}
  */
object Main {
  // One mix holds both query sets: the barrier-heavy pair sets most of
  // `pass_cpu_s`, and the short single-plan queries most of `step_cpu_ms` (a
  // geomean weighs every query the same). Apart, they would be two more
  // workloads than the benchmark's time budget holds.
  val Curate: Seq[String] = Seq("q89_jaccard_verify", "q176_golden_record")
  val Scan: Seq[String] = Seq(
    "q00_canary", "q09_distinct", "q29_doc_filter", "q52_token_count", "q74_jaro_winkler",
    "q30_annotations", "q157_bloom_lookup")
  val MixSf = "sf0.01"
  // ingest_trickle is not in BENCHMARK.json for the same budget; report.py
  // still runs it traced.
  val Workloads = Seq("ingest_backlog", "ingest_trickle", "mix")

  def main(argv: Array[String]): Unit = {
    val started = Clock.now
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", "")
    require(Workloads.contains(workload) || args.contains("write-digests"),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val cpus = args.getOrElse("cpus", "4").toInt
    val out = Paths.get(args.getOrElse("out", "perfbench/out")).toAbsolutePath
    val dataRoot = args.getOrElse("data", "perfbench/data")
    System.setProperty("sun.net.httpserver.nodelay", "true")
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, cpus, seed, dataRoot, out, args.getOrElse("inject", "none"))
    Ctx.deleteTree(ctx.work)
    spark.streams.addListener(ctx.progress)
    val sessionNs = Clock.now - started

    args.get("write-digests").foreach { file =>
      Mix.writeDigests(ctx, Paths.get(file), MixSf, Curate ++ Scan)
      spark.stop()
      return
    }

    val w: Workload = workload match {
      case "ingest_backlog" => new Ingest(ctx, CorpusShape(2000, 6, 2), 2.5)
      case "ingest_trickle" => new Ingest(ctx, CorpusShape(150, 6, 1), 3.5)
      case "mix" => new Mix(ctx, MixSf, Curate ++ Scan, 7.5)
    }
    var code = 1
    try {
      // the repeatable part of set-up (stubs up, floors probed) runs three
      // times; its median is reported
      val cycles = (0 until 3).map { _ =>
        val s = Clock.now
        val floors = ctx.startStubs()
        ((Clock.now - s) / 1e9, floors)
      }
      val (nlpRtt, esRtt) = cycles.last._2
      val warmS = { val s = Clock.now; w.warmup(); (Clock.now - s) / 1e9 }
      val setupS = sessionNs / 1e9 + Stats.median(cycles.map(_._1)) + warmS
      System.err.println(f"[perfbench] set-up (s): session ${sessionNs / 1e9}%.3f, " +
        f"stub cycles ${cycles.map(_._1).map(c => f"$c%.3f").mkString(" ")}, warm-up $warmS%.3f")

      val plain = w.measure(seconds, traced = false)
      val metrics: Map[String, (Double, String)] =
        if (!trace) plain.e2e + ("setup_s" -> (setupS, "s"))
        else {
          spark.sparkContext.addSparkListener(ctx.jobs)
          ctx.nlp.resetCounters(); ctx.es.resetCounters(); TimedTagger.reset()
          Trace.on = true
          val traced = w.measure(seconds, traced = true)
          ctx.jobs.settle()
          ctx.jobs.recordSpans(traced.from, traced.to)
          Trace.on = false
          spark.sparkContext.removeSparkListener(ctx.jobs)
          // a second untraced phase after the traced one, so the overhead
          // compares the traced phase with untraced phases on both sides
          // of it and a drift in the host's speed cancels
          val plainAfter = w.measure(seconds, traced = false)
          layerReport(ctx, workload, traced, Seq(plain, plainAfter), nlpRtt, esRtt,
            cycles.head._1, warmS, w.outcome)
        }
      val o = w.outcome
      o.problems.take(20).foreach(p => System.err.println(s"[perfbench] INCORRECT $p"))
      val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString(",")
      println(s"""{"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},"metrics":{$body}}""")
      code = if (o.correct) 0 else 1
    } finally {
      ctx.stopStubs()
      spark.stop()
    }
    System.exit(code)
  }

  /** Per-layer metrics of the traced phase, every layer for every workload
    * (an idle layer reads 0), plus self time per layer, the tracing
    * overhead against the mean of the untraced phases around it, and those
    * untraced phases' wall times.
    */
  private def layerReport(ctx: Ctx, workload: String, traced: Phase, plain: Seq[Phase],
      nlpRtt: Double, esRtt: Double, firstCycleS: Double, warmS: Double,
      o: Outcome): Map[String, (Double, String)] = {
    val spans = Trace.all
    val self = Trace.selfTimes(spans, traced.from, traced.to)
    Trace.writeJson(ctx.out.resolve(s"spans-$workload-${ctx.seed}.json"))
    val zeros = LayerNames.map(n => n -> (0.0, LayerUnits(n))).toMap
    val overhead = Seq("pass_cpu_s", "step_cpu_ms").map { k =>
      val t = traced.e2e(k)._1
      val p = plain.map(_.e2e(k)._1).sum / plain.size
      s"trace.overhead_$k" -> (if (p > 0) (t - p) / p else 0.0, "ratio")
    }
    val wall = plain.head.wall.map { case (k, (_, u)) => k -> (plain.map(_.wall(k)._1).sum / plain.size, u) }
    zeros ++ traced.layers ++ ctx.jobs.metrics(traced.from, traced.to, ctx.cpus) ++ overhead ++ wall ++
      Seq("streaming", "nlp", "es", "query", "spark", "bench").map(l =>
        s"self.${l}_s" -> (self.getOrElse(l, 0.0), "s")) ++
      Map(
        "nlp.stub_rtt_ms" -> (nlpRtt, "ms"),
        "es.stub_rtt_ms" -> (esRtt, "ms"),
        "setup.first_cycle_s" -> (firstCycleS, "s"),
        "setup.warmup_s" -> (warmS, "s"),
        "run.failed_frac" -> (if (o.attempted > 0) o.failed.toDouble / o.attempted else 0.0, "ratio"),
        "run.passes" -> (traced.passes.toDouble, "count"),
        "run.traced_s" -> ((traced.to - traced.from) / 1e9, "s"))
  }

  /** Layer metrics each workload reports, whether or not it exercises the layer. */
  val LayerUnits: Map[String, String] = {
    val phases = Ingest.Phases.flatMap(p => Seq(s"streaming.${p}_sum_ms", s"streaming.${p}_p50_ms"))
    (phases.map(_ -> "ms") ++ Seq(
      "streaming.batches" -> "count", "streaming.triggerExecution_sum_ms" -> "ms",
      "streaming.triggerExecution_p50_ms" -> "ms", "streaming.trigger_p90_ms" -> "ms",
      "streaming.phase_cover_frac" -> "ratio", "streaming.overhead_frac" -> "ratio",
      "streaming.state_rows" -> "count", "streaming.state_commit_ms" -> "ms",
      "streaming.docs_per_s" -> "docs/s",
      "nlp.requests" -> "count", "nlp.errors" -> "count", "nlp.useful_frac" -> "ratio",
      "nlp.client_ms" -> "ms", "nlp.server_ms" -> "ms", "nlp.wait_ms" -> "ms",
      "nlp.inflight_max" -> "count",
      "es.bulk_requests" -> "count", "es.bulk_items" -> "count", "es.items_per_request" -> "count",
      "es.bulk_mb" -> "MB", "es.server_ms" -> "ms", "es.items_failed" -> "count",
      "es.retries" -> "count", "es.useful_frac" -> "ratio",
      "query.executions" -> "count", "query.build_ms" -> "ms", "query.build_jobs" -> "count",
      "query.plan_ms" -> "ms", "query.exec_ms" -> "ms")).toMap
  }
  val LayerNames: Seq[String] = LayerUnits.keys.toSeq.sorted
}
