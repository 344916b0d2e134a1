package graft

import java.io.IOException
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.Trigger

import graft.sources.EsRest
import graft.sources.EsRest.EsConf
import graft.streaming.EsUpsertSink

/** The north-star sentence as one RUNNING job: Structured Streaming →
  * [[EsUpsertSink]] → the live [[EsRest]] protocol → [[EsStub]]. The
  * streaming faces of batch-proven EsStubSpec tests:
  *
  *  1. exactly-once under batchId replay — the checkpoint's commit marker
  *     for a finished batch is DELETED and the query restarted, which is
  *     precisely the crash window Spark re-runs a batch for; the replayed
  *     batch converges (script idempotence) and its failures count once;
  *  2. mid-stream 429 backoff clears without failed docs (B3);
  *  3. per-item failures accumulate across TRIGGERS, siblings land (B4 /
  *     `es_common.py:198-210` failed-docs accounting);
  *  4. the failed-doc counts live in `<checkpoint>/graft_failed_docs`: they
  *     survive a driver restart, follow `minBatchesToRetain`, keep each
  *     checkpoint apart, and a corrupt entry fails loudly.
  */
class EsStreamingSinkSpec extends SparkSuite {
  import spark.implicits._
  import EsStub.withStub

  private def tempDir(tag: String): Path =
    Files.createTempDirectory(s"graft-es-stream-$tag")

  private def rm(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  private def sinkOf(conf: EsConf) = new EsUpsertSink(conf, "anns", "doc_id", "annotations")

  private def batchOf(id: Long) = Seq((id, Seq("rejected"))).toDF("doc_id", "annotations")

  private def logNames(ckpt: Path): Set[String] =
    Files.list(ckpt.resolve("graft_failed_docs")).iterator().asScala
      .map(_.getFileName.toString).toSet

  test("north star: writeStream -> EsRest scripted upsert is exactly-once under batchId replay") {
    withStub { stub =>
      val ckpt = tempDir("replay")
      try {
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val sink = sinkOf(conf)
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, Seq[String])]
        val stream = mem.toDF.toDF("doc_id", "annotations")

        mem.addData((1L, Seq("join", "merge")), (2L, Seq("scan")))
        val q1 = sink.start(stream, ckpt.toString, Trigger.ProcessingTime(0))
        q1.processAllAvailable(); q1.stop()
        assert(EsRest.count(conf, "anns") == 2L)
        assert(stub.indices("anns")._2("1").path("annotations").toString == """["join","merge"]""")
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 0L))
        val updatesAfterFirstRun =
          stub.bulkBodies.asScala.count(_.contains("\"update\""))

        // crash window: batch 0 ran but its commit never landed — Spark
        // re-runs batch 0 with the SAME batchId on restart
        Files.delete(ckpt.resolve("commits").resolve("0"))
        // the local-FS checkpoint manager writes a Hadoop .crc sidecar per
        // commit file; a torn commit loses both
        Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc"))
        val q2 = sink.start(stream, ckpt.toString, Trigger.ProcessingTime(0))
        q2.processAllAvailable()

        // the batch really was re-sent over the wire...
        assert(stub.bulkBodies.asScala.count(_.contains("\"update\"")) > updatesAfterFirstRun,
          "restart after a torn commit must re-run the batch")
        // ...and converged: same index state, same single accounting entry
        assert(EsRest.count(conf, "anns") == 2L)
        assert(stub.indices("anns")._2("1").path("annotations").toString == """["join","merge"]""")
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 0L),
          s"replay must overwrite, not append: ${sink.failedByBatchId(ckpt.toString)}")

        // the stream keeps going: a later trigger script-updates doc 1 in place
        mem.addData((1L, Seq("rescan")))
        q2.processAllAvailable(); q2.stop()
        assert(stub.indices("anns")._2("1").path("annotations").toString == """["rescan"]""")
        assert(EsRest.count(conf, "anns") == 2L)
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 0L, 1L -> 0L))
      } finally rm(ckpt)
    }
  }

  test("driver restart through start() resumes the total; the replay counts once") {
    withStub { stub =>
      val ckpt = tempDir("restart")
      try {
        stub.rejectIds.add("3"); stub.rejectIds.add("7")
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, Seq[String])]
        val stream = mem.toDF.toDF("doc_id", "annotations")
        mem.addData((1L, Seq("a")), (3L, Seq("rejected")), (7L, Seq("rejected")))
        val a = sinkOf(conf)
        val q1 = a.start(stream, ckpt.toString, Trigger.ProcessingTime(0))
        q1.processAllAvailable(); q1.stop()
        assert(a.failedTotal == 2L)
        val updatesAfterFirstRun =
          stub.bulkBodies.asScala.count(_.contains("\"update\""))

        // the driver dies after batch 0's sink work, before its commit
        Files.delete(ckpt.resolve("commits").resolve("0"))
        Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc"))
        val b = sinkOf(conf)
        val q2 = b.start(stream, ckpt.toString, Trigger.ProcessingTime(0))
        assert(b.failedTotal == 2L, "a restarted sink must resume its total at start()")
        q2.processAllAvailable(); q2.stop()

        assert(stub.bulkBodies.asScala.count(_.contains("\"update\"")) > updatesAfterFirstRun,
          "restart after a torn commit must re-send the batch")
        assert(b.failedTotal == 2L, s"the replay must count once: ${b.failedTotal}")
        assert(b.failedByBatchId(ckpt.toString) == Map(0L -> 2L))
      } finally rm(ckpt)
    }
  }

  test("B3 streaming: mid-stream 429 backoff clears inside the trigger, zero failed docs") {
    withStub { stub =>
      val ckpt = tempDir("backoff")
      try {
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val sink = sinkOf(conf)
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, Seq[String])]
        val q = sink.start(mem.toDF.toDF("doc_id", "annotations"), ckpt.toString,
          Trigger.ProcessingTime(0))

        mem.addData((1L, Seq("a")))
        q.processAllAvailable()
        val attemptsBefore = stub.bulkAttempts.get

        // backpressure arrives BETWEEN triggers: the next micro-batch's
        // first two bulk POSTs answer 429, the third lands
        stub.bulk429Remaining.set(2)
        mem.addData((2L, Seq("b")), (3L, Seq("c")))
        q.processAllAvailable(); q.stop()

        assert(sink.failedTotal == 0L, "a cleared 429 must cost zero failed docs")
        assert(EsRest.count(conf, "anns") == 3L)
        assert(stub.bulkAttempts.get == attemptsBefore + 3,
          s"expected 2 rejected + 1 accepted attempt in trigger 2, saw ${stub.bulkAttempts.get - attemptsBefore}")
      } finally rm(ckpt)
    }
  }

  test("B4 streaming: per-item failures accumulate across triggers, siblings land") {
    withStub { stub =>
      val ckpt = tempDir("failed")
      try {
        stub.rejectIds.add("3"); stub.rejectIds.add("7")
        val conf = EsConf(stub.url, retryBackoffMs = 5)
        val sink = sinkOf(conf)
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, Seq[String])]
        val q = sink.start(mem.toDF.toDF("doc_id", "annotations"), ckpt.toString,
          Trigger.ProcessingTime(0))

        mem.addData((1L, Seq("a")), (3L, Seq("rejected")))
        q.processAllAvailable()
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 1L))

        mem.addData((7L, Seq("rejected")), (8L, Seq("b")))
        q.processAllAvailable(); q.stop()

        // the running total is the reference's end-of-run docs_failed
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 1L, 1L -> 1L))
        assert(sink.failedTotal == 2L)
        // accepted siblings landed despite the rejects in both triggers
        assert(EsRest.count(conf, "anns") == 2L)
        assert(stub.indices("anns")._2.keySet == Set("1", "8"))
      } finally rm(ckpt)
    }
  }

  test("accounting window is bounded: eviction keeps the total, replay-in-window still overwrites") {
    withStub { stub =>
      (1 to 6).foreach(i => stub.rejectIds.add(i.toString))
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt = tempDir("retain")
      try {
        // a scoped session: the shared test session's conf is never written
        val session = spark.newSession()
        session.conf.set(SQLConf.MIN_BATCHES_TO_RETAIN.key, "2")
        def sessionBatchOf(id: Long) =
          session.createDataFrame(Seq((id, Seq("rejected")))).toDF("doc_id", "annotations")
        val sink = sinkOf(conf)
        (0 to 4).foreach(b => sink.processBatch(sessionBatchOf(b + 1L), b.toLong, ckpt.toString))
        // batches 0-2 purged from the log, never from the running total
        assert(sink.failedByBatchId(ckpt.toString) == Map(3L -> 1L, 4L -> 1L))
        assert(logNames(ckpt).filterNot(_.startsWith(".")) == Set("3", "4"))
        assert(sink.failedTotal == 5L)
        // a replay of the NEWEST batch (the only batch Spark ever replays)
        // overwrites in place: the total stays single-counted
        sink.processBatch(sessionBatchOf(5L), 4L, ckpt.toString)
        assert(sink.failedByBatchId(ckpt.toString) == Map(3L -> 1L, 4L -> 1L))
        assert(sink.failedTotal == 5L)
        // at the smallest retention a replayed batch's log holds only its
        // own entry: the replay backs that entry out of the total
        session.conf.set(SQLConf.MIN_BATCHES_TO_RETAIN.key, "1")
        sink.processBatch(sessionBatchOf(6L), 5L, ckpt.toString)
        assert(logNames(ckpt).filterNot(_.startsWith(".")) == Set("5"))
        sink.processBatch(sessionBatchOf(6L), 5L, ckpt.toString)
        assert(sink.failedTotal == 6L)
        assert(spark.conf.get(SQLConf.MIN_BATCHES_TO_RETAIN.key) == "100")
      } finally rm(ckpt)
    }
  }

  test("durable accounting: a restarted sink resumes counts; post-restart replay single-counts") {
    withStub { stub =>
      Seq("1", "2", "3").foreach(stub.rejectIds.add)
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt = tempDir("acct")
      try {
        val a = sinkOf(conf)
        a.processBatch(batchOf(1L), 0L, ckpt.toString)
        a.processBatch(batchOf(2L), 1L, ckpt.toString)
        a.processBatch(batchOf(3L), 2L, ckpt.toString)
        assert(a.failedTotal == 3L)
        // driver restart: a NEW instance reads the same checkpoint's log
        // (the reference's persisted failed-docs log)
        val b = sinkOf(conf)
        assert(b.failedByBatchId(ckpt.toString) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
        // the crash that CAUSED the restart replays the newest batch —
        // still exactly-once in the accounting
        b.processBatch(batchOf(3L), 2L, ckpt.toString)
        assert(b.failedTotal == 3L)
        // and new work keeps accumulating durably
        b.processBatch(batchOf(2L), 3L, ckpt.toString)
        assert(b.failedTotal == 4L)
        val c = sinkOf(conf)
        assert(c.failedByBatchId(ckpt.toString) ==
          Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
      } finally rm(ckpt)
    }
  }

  test("a corrupt failed-doc log entry fails loudly, naming the file") {
    withStub { stub =>
      Seq("1", "2").foreach(stub.rejectIds.add)
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt = tempDir("torn")
      try {
        val a = sinkOf(conf)
        a.processBatch(batchOf(1L), 0L, ckpt.toString)
        a.processBatch(batchOf(2L), 1L, ckpt.toString)
        assert(a.failedTotal == 2L)
        // the atomic writer never leaves a partial entry, so a garbage or
        // empty one can only come from outside — report it, like Spark's
        // own logs, rather than silently resume from an older total
        val log = ckpt.resolve("graft_failed_docs")
        // drop the checksum sidecar, so the entry's content is what fails
        Files.deleteIfExists(log.resolve(".2.crc"))
        for (garbage <- Seq("{not json", "", """{"failed":1}""")) {
          Files.write(log.resolve("2"), garbage.getBytes("UTF-8"))
          val e = intercept[IOException](a.failedTotal)
          assert(e.getMessage.contains("graft_failed_docs/2"), e.getMessage)
          intercept[IOException](a.failedByBatchId(ckpt.toString))
        }
        intercept[IOException](a.processBatch(batchOf(2L), 3L, ckpt.toString))
      } finally rm(ckpt)
    }
  }

  /** One stream of `rows` through `sink.start` on `ckpt`, drained and stopped. */
  private def runStream(sink: EsUpsertSink, ckpt: Path, rows: (Long, Seq[String])*): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[String])]
    mem.addData(rows)
    val q = sink.start(mem.toDF.toDF("doc_id", "annotations"), ckpt.toString,
      Trigger.ProcessingTime(0))
    q.processAllAvailable(); q.stop()
  }

  test("per-checkpoint logs: equal batchIds in two checkpoints stay apart") {
    withStub { stub =>
      Seq("8", "9").foreach(stub.rejectIds.add)
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt1 = tempDir("lin-ck1"); val ckpt2 = tempDir("lin-ck2")
      try {
        val sink = sinkOf(conf)
        runStream(sink, ckpt1, (1L, Seq("a")), (9L, Seq("rejected")))
        runStream(sink, ckpt2, (8L, Seq("rejected")), (9L, Seq("rejected")))
        // both checkpoints have a batch 0; neither overwrites the other
        assert(sink.failedByBatchId(ckpt1.toString) == Map(0L -> 1L))
        assert(sink.failedByBatchId(ckpt2.toString) == Map(0L -> 2L))
        assert(sink.failedTotal == 3L)
        // a new instance that sees both checkpoints resumes both totals
        val next = sinkOf(conf)
        next.processBatch(batchOf(9L), 1L, ckpt1.toString)
        next.processBatch(batchOf(1L), 1L, ckpt2.toString)
        assert(next.failedTotal == 4L, s"ckpt1 (1+1) + ckpt2 (2+0): ${next.failedTotal}")
      } finally { rm(ckpt1); rm(ckpt2) }
    }
  }

  test("start() on a recreated checkpoint starts an empty failed-doc log") {
    withStub { stub =>
      Seq("8", "9").foreach(stub.rejectIds.add)
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt = tempDir("recreate")
      try {
        val sink = sinkOf(conf)
        runStream(sink, ckpt, (1L, Seq("a")), (9L, Seq("rejected")))
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 1L))
        assert(sink.failedTotal == 1L)

        // delete the checkpoint and restart on the same path: the new
        // lineage's batch 0 is new work in an empty log, and the deleted
        // lineage's counts went with its offsets and commits
        rm(ckpt); Files.createDirectories(ckpt)
        runStream(sink, ckpt, (8L, Seq("rejected")), (9L, Seq("rejected")))
        assert(sink.failedByBatchId(ckpt.toString) == Map(0L -> 2L))
        assert(sink.failedTotal == 2L, s"only the recreated lineage counts: ${sink.failedTotal}")
        assert(logNames(ckpt).filterNot(_.startsWith(".")) == Set("0"))
      } finally rm(ckpt)
    }
  }

  test("two checkpoints interleaving through one sink keep two usable windows (VERDICT r17 #3)") {
    withStub { stub =>
      (1 to 9).foreach(i => stub.rejectIds.add(i.toString))
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckptA = tempDir("interleave-a"); val ckptB = tempDir("interleave-b")
      val (a, b) = (ckptA.toString, ckptB.toString)
      try {
        val sink = sinkOf(conf)
        sink.processBatch(batchOf(1L), 0L, a)
        sink.processBatch(batchOf(2L), 0L, b)
        sink.processBatch(batchOf(3L), 1L, a)
        sink.processBatch(batchOf(4L), 1L, b)
        sink.processBatch(batchOf(5L), 2L, a)
        assert(sink.failedByBatchId(a) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
        assert(sink.failedByBatchId(b) == Map(0L -> 1L, 1L -> 1L))
        assert(sink.failedTotal == 5L)
        // a replay on either checkpoint still single-counts
        sink.processBatch(batchOf(4L), 1L, b)
        assert(sink.failedTotal == 5L)
        assert(sink.failedByBatchId(b) == Map(0L -> 1L, 1L -> 1L))
        sink.processBatch(batchOf(6L), 3L, a)
        assert(sink.failedTotal == 6L)

        // restart: a new instance resumes each checkpoint's own total
        val next = sinkOf(conf)
        next.processBatch(batchOf(6L), 3L, a) // A's replay
        assert(next.failedTotal == 4L)
        next.processBatch(batchOf(7L), 2L, b) // B's new work
        assert(next.failedTotal == 7L)
        assert(next.failedByBatchId(a) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
        assert(next.failedByBatchId(b) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
      } finally { rm(ckptA); rm(ckptB) }
    }
  }

  test("a crash between temp-write and rename leaves the previous total readable (atomic persist)") {
    withStub { stub =>
      Seq("1", "2").foreach(stub.rejectIds.add)
      val conf = EsConf(stub.url, retryBackoffMs = 5)
      val ckpt = tempDir("crash")
      try {
        val a = sinkOf(conf)
        a.processBatch(batchOf(1L), 0L, ckpt.toString)
        a.processBatch(batchOf(2L), 1L, ckpt.toString)
        // a replay overwrite of batch 1 died after writing the atomic
        // writer's dot-prefixed temp file but before the rename; stray
        // checksum sidecars sit beside the entries
        val log = ckpt.resolve("graft_failed_docs")
        Files.write(log.resolve(".1.0b5e7c1d-temp.tmp"),
          """{"failed":99,"total":999}""".getBytes("UTF-8"))
        Files.write(log.resolve(".7.crc"), "not an entry".getBytes("UTF-8"))
        assert(logNames(ckpt).count(_.endsWith(".crc")) >= 2, logNames(ckpt))
        val b = sinkOf(conf)
        assert(b.failedByBatchId(ckpt.toString) == Map(0L -> 1L, 1L -> 1L),
          "temp and .crc files must not read as entries")
        // the interrupted replay, re-run, converges
        b.processBatch(batchOf(2L), 1L, ckpt.toString)
        assert(b.failedTotal == 2L,
          "a leftover temp file must not contaminate the resumed total")
      } finally rm(ckpt)
    }
  }
}
