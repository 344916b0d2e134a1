package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.tools.CanonDigest

/** A closed-loop query mix: every pass runs each query once, in a seeded
  * order, through `SparkEntry.queries`. Each execution is split into
  * build (the query function, including its eager `Stage.snapshot`
  * jobs), plan (forcing the physical plan) and exec (running that plan to
  * completion over every output column — no count, so no column is
  * pruned away). The queries run one at a time, so the process CPU spent
  * over an execution is that query's.
  */
final class Mix(ctx: Ctx, sf: String, names: Seq[String], nominalPassS: Double) extends Workload {
  import Mix.{Exec, Pass}
  private val spark = ctx.spark
  private val dir = ctx.sfDir(sf)
  private var expected: Map[String, (Long, String)] = Map.empty
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  /** Checks every query's result digest against the committed one, then
    * runs one untimed pass exactly as `measure` does, so the measured
    * passes start warm.
    */
  override def warmup(): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    expected = Mix.loadDigests(Mix.DigestFile, sf)
    val missing = names.filterNot(expected.contains)
    require(missing.isEmpty, s"no committed digest for ${missing.mkString(", ")} at $sf")
    if (ctx.inject == "corrupt-digest") {
      val n = names.min
      val (rows, sha) = expected(n)
      expected += n -> (rows, sha.reverse)
    }
    names.foreach { n =>
      val got = try CanonDigest.digest(SparkEntry.queries(n)(spark, dir))
        catch { case e: Exception => (-1L, e.toString) }
      if (got != expected(n)) problems += s"$n: digest $got, expected ${expected(n)}"
    }
    new Random(ctx.seed * 31L + 2).shuffle(names).foreach(runOne(_, traced = false))
    Ctx.postGcHeapMb()
  }

  private def runOne(n: String, traced: Boolean): Option[Exec] = {
    val t0 = Clock.now
    val c0 = Clock.cpuNs
    try {
      val df = SparkEntry.queries(n)(spark, dir)
      val t1 = Clock.now
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = Clock.now
      SQLExecution.withNewExecutionId(qe, Some(s"perfbench $n"))(qe.toRdd.foreach(_ => ()))
      val t3 = Clock.now
      if (traced) {
        val q = Trace.record(0, 0, "query", n, t0, t3)
        Trace.record(q, 1, "query", s"$n build", t0, t1)
        Trace.record(q, 1, "query", s"$n plan", t1, t2)
        Trace.record(q, 1, "query", s"$n exec", t2, t3)
      }
      Some(Exec(n, t1 - t0, t2 - t1, t3 - t2, Clock.cpuNs - c0, t0, t1))
    } catch {
      case e: Exception =>
        problems += s"$n threw ${e.toString.take(300)}"
        None
    }
  }

  override def measure(seconds: Int, traced: Boolean): Phase = {
    val rnd = new Random(ctx.seed * 31L + (if (traced) 1 else 0))
    val from = Clock.now
    val passes = mutable.ArrayBuffer.empty[Pass]
    var heap = 0.0
    (0 until Workload.passes(seconds, nominalPassS)).foreach { _ =>
      val (s, c) = (Clock.now, Clock.cpuNs)
      val execs = rnd.shuffle(names).flatMap { n =>
        attempted += 1
        val r = runOne(n, traced)
        if (r.isEmpty) failed += 1
        r
      }
      passes += Pass(Clock.now - s, Clock.cpuNs - c, execs)
      heap = math.max(heap, Ctx.postGcHeapMb())
    }
    val to = Clock.now
    val all = passes.flatMap(_.execs).toSeq
    System.err.println(f"[perfbench] phase ${(to - from) / 1e9}%.3f s, passes (wall/cpu s): " +
      passes.map(p => f"${p.wallNs / 1e9}%.3f/${p.cpuNs / 1e9}%.3f").mkString(" "))
    // A pass is summed from each query's median over the passes, not
    // taken as the median pass: a slow execution of one query then costs
    // only that query's sample, where it would move a whole pass.
    def perQuery(f: Exec => Double): Seq[Double] =
      all.groupBy(_.name).values.map(es => Stats.median(es.map(f))).toSeq
    val e2e = Map(
      "pass_cpu_s" -> (perQuery(_.cpuNs / 1e9).sum, "s"),
      "step_cpu_ms" -> (Stats.geomean(perQuery(_.cpuNs / 1e6)), "ms"),
      "heap_peak_mb" -> (heap, "MB"))
    val wall = Map(
      "wall.pass_s" -> (perQuery(_.totalNs / 1e9).sum, "s"),
      "wall.step_ms" -> (Stats.geomean(perQuery(_.totalNs / 1e6)), "ms"))
    val layers =
      if (!traced) Map.empty[String, (Double, String)]
      else {
        def perPass(f: Exec => Double): Double = Stats.median(passes.map(_.execs.map(f).sum).toSeq)
        val buildJobs = passes.map(_.execs.map(e => ctx.jobs.jobsIn(e.buildFrom, e.buildTo).size.toDouble).sum)
        Map(
          "query.executions" -> (all.size.toDouble, "count"),
          "query.build_ms" -> (perPass(_.buildNs / 1e6), "ms"),
          "query.build_jobs" -> (Stats.median(buildJobs.toSeq), "count"),
          "query.plan_ms" -> (perPass(_.planNs / 1e6), "ms"),
          "query.exec_ms" -> (perPass(_.execNs / 1e6), "ms"))
      }
    Phase(from, to, passes.size, e2e, wall, layers)
  }

  override def outcome: Outcome = Outcome(problems.isEmpty, attempted, failed, problems.toSeq)
}

object Mix {
  private final case class Exec(name: String, buildNs: Long, planNs: Long, execNs: Long,
      cpuNs: Long, buildFrom: Long, buildTo: Long) {
    def totalNs: Long = buildNs + planNs + execNs
  }
  private final case class Pass(wallNs: Long, cpuNs: Long, execs: Seq[Exec])

  val DigestFile: Path = Paths.get("perfbench/digests.json")

  /** Committed digests: `{"<sf>": {"<query>": {"rows": n, "sha256": "…"}}}`. */
  def loadDigests(file: Path, sf: String): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(file)).path(sf)
    val b = Map.newBuilder[String, (Long, String)]
    val it = root.fields()
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("sha256").asText())
    }
    b.result()
  }

  /** Writes the digests of `names` at `sf` to `file`, replacing it. */
  def writeDigests(ctx: Ctx, file: Path, sf: String, names: Seq[String]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val node = root.putObject(sf)
    names.sorted.foreach { n =>
      val (rows, sha) = CanonDigest.digest(SparkEntry.queries(n)(ctx.spark, ctx.sfDir(sf)))
      node.putObject(n).put("rows", rows).put("sha256", sha)
      System.err.println(s"[perfbench] digest $sf $n rows=$rows $sha")
    }
    Files.write(file, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}
