package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.util.LongAccumulator

import graft.operators.{AnnotationPipeline, IncrementalAgg, NlpService}
import graft.sources.EsRest
import graft.sources.EsRest.EsConf
import graft.streaming.DriveCuration

/** The curation north star end-to-end: ONE streaming job (one checkpoint)
  * runs gate → near-dup admission → datacard partials → annotate → K5
  * scripted ES upsert, and the spec pins the two contracts VERDICT r16 #6
  * names:
  *
  *  1. end-state ≡ the batch composition (q95's contract): the streamed
  *     corpus's survivors, per-source data card, and index content all
  *     equal the same operators run once over the whole corpus;
  *  2. replay idempotence across ALL THREE states (admission store, card
  *     store, ES index) — re-running the newest batch with its batchId
  *     changes nothing.
  *
  * The corpus is built so greedy streaming admission provably equals the
  * global batch dedup: near-dup groups are CLIQUES (every in-group pair's
  * 3-shingle Jaccard is 9/11 ≈ 0.82 ≥ 0.6 — the 12-token texts differ
  * only in their last token, which touches exactly one shingle) with
  * disjoint vocabularies across groups (cross-group Jaccard 0), so the
  * unique survivor of each group is its minimum doc_id under EITHER
  * execution order.
  */
class DriveCurationSpec extends SparkSuite {
  import spark.implicits._
  import EsStub.withStub

  private def tempDir(tag: String): Path =
    Files.createTempDirectory(s"graft-curation-$tag")

  private def rm(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  // group A ("web"): clique {1, 2, 3}; carries the term "join"
  private val a1 = "alpha beta gamma delta epsilon join eta theta iota kappa lambda mu"
  private val a2 = "alpha beta gamma delta epsilon join eta theta iota kappa lambda nu"
  private val a3 = "alpha beta gamma delta epsilon join eta theta iota kappa lambda xi"
  // group B ("wiki"): clique {4, 5}; carries "merge"
  private val b4 = "omicron pi rho sigma tau merge phi chi psi omega primus secundus"
  private val b5 = "omicron pi rho sigma tau merge phi chi psi omega primus tertius"
  // group C ("web"): singleton {8}; carries "scan"
  private val c8 = "unus duo tres quattuor quinque scan septem octo novem decem undecim duodecim"
  // gate failures: too short (6), all stopwords (7)
  private val g6 = "tiny text here"
  private val g7 = "the a of and the a of and the a of and"

  private def doc(id: Long, text: String, source: String) =
    (id, text, "en", source, text.length.toLong)

  private val allDocs = Seq(
    doc(1L, a1, "web"), doc(2L, a2, "web"), doc(3L, a3, "web"),
    doc(4L, b4, "wiki"), doc(5L, b5, "wiki"),
    doc(6L, g6, "web"), doc(7L, g7, "wiki"), doc(8L, c8, "web"))

  private val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

  private def df(rows: Seq[(Long, String, String, String, Long)]): DataFrame =
    rows.toDF(cols: _*)

  private val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)

  /** The batch composition's expected end state: min-id survivor per
    * clique among gate-passers.
    */
  private val expectedSurvivors = Seq(
    doc(1L, a1, "web"), doc(4L, b4, "wiki"), doc(8L, c8, "web"))
  private val expectedAnns = Map(
    "1" -> """["TERM:join"]""", "4" -> """["TERM:merge"]""", "8" -> """["TERM:scan"]""")

  private def cardRows(d: Option[DataFrame]): Set[(String, Long, Long, Double)] =
    d.get.select("source", "n_docs", "n_chars", "distinct_words_est")
      .as[(String, Long, Long, Double)].collect().toSet

  test("one checkpoint drives gate -> admission -> datacard -> ES upsert; end state == batch composition; replay is a no-op on all three states") {
    withStub { stub =>
      val work = tempDir("e2e")
      try {
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val store = s"$work/store"; val card = s"$work/card"; val ckpt = s"$work/ckpt"
        val sink = DriveCuration.EsSink(conf, "curated")
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, String, String, String, Long)]
        val stream = mem.toDF.toDF(cols: _*)
        val q = DriveCuration.start(stream, store, card, sink, ckpt, tagger,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          minTokens = 10L, maxStopwordRatio = 0.5)
        // three micro-batches; each admissible group's min id arrives first
        mem.addData(allDocs(0), allDocs(1), allDocs(5)) // 1, 2, 6
        q.processAllAvailable()
        mem.addData(allDocs(2), allDocs(3))             // 3, 4
        q.processAllAvailable()
        mem.addData(allDocs(4), allDocs(6), allDocs(7)) // 5, 7, 8
        q.processAllAvailable(); q.stop()

        // ES index: exactly the batch composition's survivors, annotated
        val idx = stub.indices("curated")._2
        assert(idx.keySet == Set("1", "4", "8"), s"got ${idx.keySet}")
        expectedAnns.foreach { case (id, anns) =>
          assert(idx(id).path("annotations").toString == anns,
            s"doc $id: ${idx(id).path("annotations")}")
        }
        // data card: identical to one-shot partials over batch survivors
        // (mergeability makes batch boundaries invisible, HLL included)
        val batchCard = IncrementalAgg.finalizeCard(IncrementalAgg.mergePartials(
          Seq(IncrementalAgg.datacardPartials(df(expectedSurvivors)))))
        val streamedCard = cardRows(DriveCuration.card(spark, card))
        assert(streamedCard == cardRows(Some(batchCard)),
          s"streamed card $streamedCard != batch card")
        // admission store: postings for the three survivors only
        val storedIds = graft.sources.Sinks.readBatchStore(spark, store)
          .get.select("__id").distinct().as[Long].collect().toSet
        assert(storedIds == Set(1L, 4L, 8L), s"got $storedIds")
        val storeRowsBefore = graft.sources.Sinks.readBatchStore(spark, store).get.count()

        // REPLAY the newest batch (batchId 2 — the only batch Spark ever
        // re-runs) through the exact foreachBatch body: all three states
        // must converge, not accumulate
        DriveCuration.curateBatch(spark,
          df(Seq(allDocs(4), allDocs(6), allDocs(7))),
          store, card, sink, tagger, batchId = 2L, checkpoint = ckpt,
          minTokens = 10L, maxStopwordRatio = 0.5)
        assert(stub.indices("curated")._2.keySet == Set("1", "4", "8"))
        assert(stub.indices("curated")._2("8").path("annotations").toString ==
          """["TERM:scan"]""")
        assert(cardRows(DriveCuration.card(spark, card)) == streamedCard,
          "replayed partials must overwrite their partition, not add one")
        assert(graft.sources.Sinks.readBatchStore(spark, store).get.count() ==
          storeRowsBefore, "replayed postings must overwrite, not append")
      } finally rm(work)
    }
  }

  test("the composition survives an empty-survivor batch and a later catch-up run picks up only new files") {
    withStub { stub =>
      val work = tempDir("empty")
      try {
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val in = s"$work/in"; val card = s"$work/card"; val ckpt = s"$work/ckpt"
        def run(): Unit =
          DriveCuration.start(graft.streaming.IngestJob.source(spark, in),
            s"$work/store", card, DriveCuration.EsSink(conf, "curated"), ckpt,
            tagger, minTokens = 10L, maxStopwordRatio = 0.5).awaitTermination()
        def parts(): Set[String] =
          new java.io.File(in).list().filter(_.endsWith(".parquet")).toSet
        // the file names each batch of the query's source log read
        def logged(): Seq[Set[String]] =
          new java.io.File(s"$ckpt/sources/0").listFiles()
            .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong).toSeq
            .map(f => "\"path\":\"([^\"]+)\"".r
              .findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8"))
              .map(m => new org.apache.hadoop.fs.Path(m.group(1)).getName).toSet)
        // first run: one survivor
        df(Seq(allDocs(0))).write.parquet(in)
        run()
        val first = parts()
        val after0 = cardRows(DriveCuration.card(spark, card))
        assert(stub.indices("curated")._2.keySet == Set("1"))
        assert(graft.streaming.EsUpsertSink.failedTotal(ckpt) == 0L)
        // catch-up run over one new file of gate failures only (zero
        // survivors): partial/store/sink handling must not throw, the card
        // must not change, and the run reads the new file alone
        df(Seq(allDocs(5), allDocs(6))).write.mode("append").parquet(in)
        val added = parts() -- first
        run()
        assert(cardRows(DriveCuration.card(spark, card)) == after0)
        assert(stub.indices("curated")._2.keySet == Set("1"))
        assert(graft.streaming.EsUpsertSink.failedTotal(ckpt) == 0L)
        val batches = logged()
        assert(batches.size == 2 && batches == Seq(first, added), s"source log: $batches")
        // the same zero-survivor batch composed by hand reports no
        // survivors and no failed docs
        val (n, f) = DriveCuration.curateBatch(spark, df(Seq(allDocs(5), allDocs(6))),
          s"$work/store", card, DriveCuration.EsSink(conf, "curated"), tagger, 2L, ckpt,
          minTokens = 10L, maxStopwordRatio = 0.5)
        assert(n == 0L && f == 0L)
        assert(cardRows(DriveCuration.card(spark, card)) == after0)
      } finally rm(work)
    }
  }

  test("the ES face logs its failed docs in the query's checkpoint; a catch-up run with a replay counts them once") {
    withStub { stub =>
      val work = tempDir("failed")
      try {
        stub.rejectIds.add("4")
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val in = s"$work/in"; val ckpt = s"$work/ckpt"
        def run(): Unit =
          DriveCuration.start(graft.streaming.IngestJob.source(spark, in),
            s"$work/store", s"$work/card", DriveCuration.EsSink(conf, "curated"), ckpt,
            tagger, minTokens = 10L, maxStopwordRatio = 0.5).awaitTermination()
        // survivors 1 and 4; the index rejects 4
        df(Seq(allDocs(0), allDocs(3))).write.parquet(in)
        run()
        assert(graft.streaming.EsUpsertSink.failedTotal(ckpt) == 1L)
        assert(stub.indices("curated")._2.keySet == Set("1"))
        // catch-up run over one new file, after dropping batch 0's commit so
        // the run first replays batch 0 (its rejection again) under the same id
        val commit = new java.io.File(s"$ckpt/commits/0")
        assert(commit.exists && commit.delete())
        new java.io.File(s"$ckpt/commits/.0.crc").delete()
        df(Seq(allDocs(7))).write.mode("append").parquet(in)
        run()
        assert(stub.indices("curated")._2.keySet == Set("1", "8"))
        assert(graft.streaming.EsUpsertSink.failedTotal(ckpt) == 1L,
          "the replayed batch's rejection must count once")
      } finally rm(work)
    }
  }

  test("parquet face tags each survivor once per batch") {
    val work = tempDir("tagcount")
    try {
      val calls = spark.sparkContext.longAccumulator("curation-tagger-calls")
      val counting = new CountingTagger(calls)
      val sink = DriveCuration.ParquetSink(s"$work/index")
      // batch 0 admits 1 of {1, 2, 6}; batch 1 admits 4 of {3, 4} and
      // merges into the store batch 0 wrote
      Seq(Seq(allDocs(0), allDocs(1), allDocs(5)), Seq(allDocs(2), allDocs(3)))
        .zipWithIndex.foreach { case (docs, id) =>
          calls.reset()
          val (n, _) = DriveCuration.curateBatch(spark, df(docs), s"$work/store",
            s"$work/card", sink, counting, id.toLong, s"$work/ckpt",
            minTokens = 10L, maxStopwordRatio = 0.5)
          assert(n == 1L && calls.value == n, s"batch $id: ${calls.value} tagger calls for $n survivors")
        }
      assert(spark.read.parquet(s"$work/index").select("doc_id").as[Long].collect().toSet ==
        Set(1L, 4L))
    } finally rm(work)
  }

  test("countSurvivors=false skips the count action's jobs per trigger (VERDICT r17 #5)") {
    withStub { stub =>
      val w1 = tempDir("jobs1"); val w2 = tempDir("jobs2")
      try {
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          // identical batch, identical (fresh) state shape per run — the
          // only difference is the counted vs uncounted return value
          def run(work: Path, count: Boolean): Int = {
            jobs.set(0)
            val (n, _) = DriveCuration.curateBatch(spark, df(Seq(allDocs(0))),
              s"$work/store", s"$work/card",
              DriveCuration.EsSink(conf, "curated"), tagger, 0L, s"$work/ckpt",
              minTokens = 10L, maxStopwordRatio = 0.5, countSurvivors = count)
            assert(if (count) n == 1L else n == -1L)
            // let the async listener bus drain before reading the counter
            // (the drain API is private[spark] — poll to stability instead)
            var last = -1; var stable = 0
            val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
            while (stable < 3 && System.nanoTime() < deadline) {
              Thread.sleep(100)
              val cur = jobs.get
              if (cur == last) stable += 1 else { stable = 0; last = cur }
            }
            jobs.get
          }
          val counted = run(w1, count = true)
          val uncounted = run(w2, count = false)
          // one count() ACTION = 1 scheduler job interpreted, 2 under AQE
          // (the partial-agg query stage materializes as its own job) —
          // pin the bound, not the AQE-dependent constant
          val delta = counted - uncounted
          assert(delta >= 1 && delta <= 2,
            s"the survivor count must cost exactly one action (1-2 jobs): " +
              s"counted=$counted uncounted=$uncounted")
        } finally spark.sparkContext.removeSparkListener(listener)
      } finally { rm(w1); rm(w2) }
    }
  }
}

/** The dictionary tagger, counting its calls across tasks. */
private final class CountingTagger(calls: LongAccumulator) extends NlpService.Tagger {
  private val inner = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)
  def annotate(doc: NlpService.Doc): Seq[NlpService.Annotation] = {
    calls.add(1L); inner.annotate(doc)
  }
}
