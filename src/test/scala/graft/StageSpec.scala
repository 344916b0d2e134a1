package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Stage}

/** Stage.snapshot mode selection: local (default) vs reliable checkpoint.
  * The operators themselves are covered by their own suites; this asserts
  * the barrier is mode-transparent (same results) and that misconfiguration
  * fails loudly instead of silently degrading, and that barriers on
  * concurrent threads of one session leave each other's results, plans and
  * the session conf alone.
  *
  * Declaration order matters: the failure-path test MUST run before any
  * reliable-mode success — SparkContext.setCheckpointDir is sticky on the
  * shared session, so once a reliable snapshot has run, the
  * missing-dir branch is unreachable for the rest of the JVM.
  */
class StageSpec extends SparkSuite {
  import spark.implicits._

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Stage.ModeConf, mode)
    try body finally spark.conf.unset(Stage.ModeConf)
  }

  test("unknown mode and missing reliable dir fail loudly") {
    val df = Seq(1, 2, 3).toDF("x")
    withMode("turbo") {
      val e = intercept[IllegalArgumentException](Stage.snapshot(df))
      assert(e.getMessage.contains(Stage.ModeConf))
    }
    // runs FIRST in the suite (see class doc), so no checkpoint dir has
    // been set yet — the guard documents the cross-suite hazard
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.unset(Stage.DirConf)
      withMode("reliable") {
        val e = intercept[IllegalArgumentException](Stage.snapshot(df))
        assert(e.getMessage.contains(Stage.DirConf))
      }
    } else
      fail("checkpoint dir already set before StageSpec's failure-path test — " +
        "reorder tests so the missing-dir branch stays covered")
  }

  test("reliable mode produces identical results to local mode") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text").limit(50)
    val local = Corpus.tfidf(docs, "doc_id", "text")
      .select($"doc_id", $"term", round($"tfidf", 6).as("w"))
      .collect().map(_.toSeq).toSet
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Stage.DirConf, dir)
    val reliable = withMode("reliable") {
      Corpus.tfidf(docs, "doc_id", "text")
        .select($"doc_id", $"term", round($"tfidf", 6).as("w"))
        .collect().map(_.toSeq).toSet
    }
    assert(reliable == local)
    // the multi-round CC loop checkpoints per iteration — exercise it too
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = withMode("reliable") {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("two barrier-heavy queries on threads of one session keep their " +
    "digests, their AQE plans and the session's AQE setting") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val aqeConf = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(aqeConf, "true")
    val names = Seq("q89_jaccard_verify", "q176_golden_record")
    def digest(name: String) =
      graft.tools.CanonDigest.digest(SparkEntry.queries(name)(spark, sfDir))
    val serial = names.map(n => n -> digest(n)).toMap
    // both threads build their query (and its eager snapshots) at once,
    // so neither can plan inside the other's barriers unnoticed
    val start = new java.util.concurrent.CyclicBarrier(names.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val concurrent = try {
      Await.result(Future.sequence(names.map { n =>
        Future {
          start.await()
          val df = SparkEntry.queries(n)(spark, sfDir)
          (n, graft.tools.CanonDigest.digest(df), df.queryExecution.executedPlan)
        }
      }), Duration(300L, "s"))
    } finally pool.shutdown()
    concurrent.foreach { case (n, d, plan) =>
      assert(d == serial(n), s"$n: concurrent digest differs from serial")
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"$n: executed plan lost its AdaptiveSparkPlan root:\n$plan")
    }
    assert(spark.conf.get(aqeConf, "true") == before,
      "no barrier may leave the shared session's AQE setting changed")
  }
}
