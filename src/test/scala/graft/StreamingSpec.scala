package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{AnnotationPipeline, NlpService}
import graft.sources.Sinks
import graft.streaming.{IngestJob, StreamingPipeline}

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)

  test("windowed streaming agg over MemoryStream matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rows = Seq(
      Ev(t("2024-01-01 00:10:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 00:50:00"), 1, "a", 2.0),
      Ev(t("2024-01-01 01:10:00"), 2, "b", 3.0))
    mem.addData(rows: _*)
    val q = StreamingPipeline.windowedCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("wc").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wc")
      .select(date_format($"window.start", "HH:mm").as("w"), $"event_type", $"n", $"sum_value")
      .collect().map(_.toSeq).toSet
    val batch = rows.toDF()
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(date_format($"window.start", "HH:mm").as("w"), $"event_type", $"n", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrich: broadcast join per micro-batch, unmatched keys survive as null") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamingPipeline.enrichStream(mem.toDF(), dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("enr").start()
    mem.addData(Ev(t("2024-01-01 00:10:00"), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(t("2024-01-01 00:20:00"), 9, "b", 2.0)) // no dim row
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enr").select("user_id", "tier")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("gold"), 9L -> None), s"got $got")
    // stateless: the micro-batch plan joins via broadcast, no state store
    val progress = q.lastProgress
    assert(progress == null || progress.stateOperators.isEmpty,
      "stream-static join must not allocate a state store")
  }

  test("heavy-hitter sketch runs as a streaming aggregate: candidates track the running stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++
      (0 until 8).map(i => s"cold$i"): _*)
    val q = mem.toDF().toDF("tok")
      .agg(graft.functions.HeavyHitterFunctions.mgHeavyHitters($"tok", 4).as("s"))
      .writeStream.outputMode("complete").format("memory").queryName("hh").start()
    q.processAllAvailable()
    def items() = spark.table("hh").head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 48 items so far: anything above 48/5 ≈ 9.6 must be in the summary
    val first = items()
    assert(first.contains("hot") && first.contains("warm"), s"got $first")
    // a second micro-batch shifts the stream: the complete-mode re-emit
    // must reflect the union (hot still guaranteed at 30+20 of 68)
    mem.addData(Seq.fill(20)("surge"): _*)
    q.processAllAvailable(); q.stop()
    val second = items()
    assert(second.contains("hot") && second.contains("surge"), s"got $second")
    assert(second("hot") <= 30L && second("surge") <= 20L,
      "retained counts must stay lower bounds")
  }

  test("streaming dedup within watermark drops replayed doc ids (F2 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, "stream with join inside", t("2024-01-01 00:00:00")),
      (1L, "stream with join inside", t("2024-01-01 00:00:30")), // dup replay
      (2L, "another merge text", t("2024-01-01 00:01:00")))
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val anns = IngestJob.annotated(docs, PipelineConfig(sourcePath = "", dateField = "ts"), tagger)
    val q = anns.writeStream.outputMode("append").format("memory").queryName("dd").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dd").select("`meta.doc_id`", "`nlp.detected_name`").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // doc 1 contributes its annotations exactly once despite the replay
    assert(got.count(_ == (1L, "join")) == 1)
    assert(got.count(_ == (2L, "merge")) == 1)
  }

  test("session_window streaming agg groups by inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t("2024-01-01 00:00:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 00:10:00"), 1, "a", 1.0),  // same session (10m gap)
      Ev(t("2024-01-01 01:00:00"), 1, "a", 1.0))  // new session (50m gap)
    val q = StreamingPipeline.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("sc").start()
    q.processAllAvailable(); q.stop()
    val counts = spark.table("sc").select("n_events").as[Long].collect().sorted
    assert(counts.toSeq == Seq(1L, 2L))
  }

  test("late data beyond the watermark is dropped; within it, merged " +
      "(reference has no late-data story beyond 'reprocess next check')") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingPipeline.windowedCounts(mem.toDF(), watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    // batch 1: events up to 06:00 → watermark advances to 05:00
    mem.addData(Ev(t("2024-01-01 06:00:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 2: one event within watermark (05:30), one far too late (01:00)
    mem.addData(
      Ev(t("2024-01-01 05:30:00"), 1, "a", 2.0),
      Ev(t("2024-01-01 01:00:00"), 1, "a", 4.0))
    q.processAllAvailable()
    // batch 3: advance watermark past 06:00 so the 05:00 and 06:00 windows emit
    mem.addData(Ev(t("2024-01-01 09:00:00"), 1, "a", 8.0))
    q.processAllAvailable()
    q.stop()
    val byWindow = spark.table("late")
      .select(date_format($"window.start", "HH:mm").as("w"), $"sum_value")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byWindow.get("05:00").contains(2.0), s"in-watermark late row lost: $byWindow")
    assert(!byWindow.contains("01:00"), s"too-late row not dropped: $byWindow")
  }

  test("foreachBatch upsert sink: replayed batch converges (K5 idempotence)") {
    val dir = Files.createTempDirectory("upsert").toString + "/sink"
    val b1 = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "val")
    Sinks.upsert(spark, b1, dir, "key")
    val b2 = Seq(("k2", "v2b"), ("k3", "v3")).toDF("key", "val")
    Sinks.upsert(spark, b2, dir, "key")
    Sinks.upsert(spark, b2, dir, "key") // replay
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3"))
  }

  test("crashed swap self-heals: __old aside copy is recovered, never deleted (K5 durability)") {
    // Simulate a crash between replaceWith's two renames: dst absent, the
    // .name__old aside holding the ONLY durable copy of the store.
    val base = Files.createTempDirectory("crashed").toString
    val dir = base + "/sink"
    val b1 = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "val")
    Sinks.upsert(spark, b1, dir, "key")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(base, ".sink__old")), "crash simulation rename")
    // (a) a restarted upsert must see the RECOVERED history, not "absent":
    // k1 survives even though it is in no new batch
    val b2 = Seq(("k2", "v2b"), ("k3", "v3")).toDF("key", "val")
    Sinks.upsert(spark, b2, dir, "key")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("k1" -> "v1", "k2" -> "v2b", "k3" -> "v3"),
      s"prior store must be recovered from the aside copy, got $got")
    // (b) backstop: a caller that BYPASSES readExisting (stale existing
    // handle) must be refused rather than allowed to destroy the aside copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(base, ".sink__old")), "re-simulate crash")
    val ex = intercept[java.io.IOException] {
      Sinks.upsert(spark, b2, dir, "key", existing = None)
    }
    assert(ex.getMessage.contains("crashed swap"), ex.getMessage)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, ".sink__old")),
      "the refusal must leave the only copy intact")
  }

  test("AvailableNow resumes from checkpoint: only NEW files processed on restart (B1)") {
    val srcDir = Files.createTempDirectory("incsrc").toString
    val sinkDir = Files.createTempDirectory("incsink").toString + "/out"
    val ckpt = Files.createTempDirectory("incckpt").toString
    def mkBatch(ids: Range) =
      ids.map(i => (i.toLong, s"doc $i has a join", t("2024-01-01 00:00:00")))
        .toDF("doc_id", "text", "ts")
    def writeBatch(ids: Range): Unit =
      mkBatch(ids).write.mode("append").parquet(srcDir)
    val cfg = PipelineConfig(sourcePath = srcDir, sinkPath = sinkDir, dateField = "ts")
    def runOnce(): Unit = IngestJob.start(spark, cfg, tagger, ckpt).awaitTermination()
    writeBatch(0 until 10)
    runOnce()
    assert(spark.read.parquet(sinkDir).count() == 10)
    writeBatch(100 until 105) // new files appended to the same dir
    runOnce()
    val all = spark.read.parquet(sinkDir).select("`meta.doc_id`").as[Long].collect().toSet
    assert(all == ((0L until 10L) ++ (100L until 105L)).toSet,
      "restart must process exactly the new files once")
  }

  test("nested-mode upsert merges annotation arrays on key conflict (K6)") {
    val dir = Files.createTempDirectory("nested").toString + "/sink"
    val b1 = Seq(("doc_1", Seq((0L, "join"), (1L, "merge")))).toDF("key", "annotations")
    Sinks.upsertMergeArrays(spark, b1, dir, "key", "annotations")
    val b2 = Seq(
      ("doc_1", Seq((1L, "merge"), (2L, "scan"))), // 1 overlap, 1 new
      ("doc_2", Seq((0L, "hash")))).toDF("key", "annotations")
    Sinks.upsertMergeArrays(spark, b2, dir, "key", "annotations")
    val got = spark.read.parquet(dir)
      .select($"key", $"annotations")
      .as[(String, Seq[(Long, String)])].collect().toMap
    assert(got("doc_1") == Seq((0L, "join"), (1L, "merge"), (2L, "scan")))
    assert(got("doc_2") == Seq((0L, "hash")))
  }

  test("upsert and nested upsert converge under replay with NULL keys") {
    // a plain equi-join never matches null keys, so a replayed batch
    // carrying a null-key row used to append one duplicate per replay —
    // breaking the idempotence the streaming exactly-once argument needs
    val batch = Seq(
      (Option("doc_1"), Seq("join")),
      (Option.empty[String], Seq("orphan"))).toDF("key", "annotations")
    val flat = Files.createTempDirectory("nullkey_flat").toString + "/sink"
    Sinks.upsert(spark, batch, flat, "key")
    Sinks.upsert(spark, batch, flat, "key") // replay of the same batch
    val flatRows = spark.read.parquet(flat)
      .as[(Option[String], Seq[String])].collect().toSet
    assert(flatRows == Set((Some("doc_1"), Seq("join")), (None, Seq("orphan"))),
      s"replay duplicated rows: $flatRows")
    val nested = Files.createTempDirectory("nullkey_nested").toString + "/sink"
    Sinks.upsertMergeArrays(spark, batch, nested, "key", "annotations")
    Sinks.upsertMergeArrays(spark, batch, nested, "key", "annotations")
    val nestedRows = spark.read.parquet(nested)
      .as[(Option[String], Seq[String])].collect().toSet
    assert(nestedRows == Set((Some("doc_1"), Seq("join")), (None, Seq("orphan"))),
      s"nested replay must converge: $nestedRows")
  }

  test("AvailableNow file-stream pipeline drains a parquet directory once (B1 catch-up)") {
    val srcDir = Files.createTempDirectory("docsrc").toString
    val sinkDir = Files.createTempDirectory("docsink").toString + "/out"
    val ckpt = Files.createTempDirectory("ckpt").toString
    val docs = Tables.documents(spark, sfDir).limit(50)
      .withColumn("ts", lit(t("2024-01-01 00:00:00")))
    docs.write.mode("overwrite").parquet(srcDir)
    IngestJob.start(spark, PipelineConfig(sourcePath = srcDir, sinkPath = sinkDir, dateField = "ts"),
      tagger, ckpt).awaitTermination()
    val streamedCount = spark.read.parquet(sinkDir).count()
    val batchCount = AnnotationPipeline.annotateDictionary(
      AnnotationPipeline.filterValidText(docs)).count()
    assert(streamedCount == batchCount)
  }

  test("transformWithState first-seen gate emits each doc id once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs a multi-column-family store → RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, String)]
    val gated = StreamingPipeline.firstSeen(mem.toDS())
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("fsg").start()
    try {
      mem.addData((1L, "a"), (1L, "a-dup-same-batch"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((1L, "a-replay-next-batch"), (3L, "c"))
      q.processAllAvailable()
    } finally {
      // always restore the shared session's default provider — a leak here
      // would silently re-run every later streaming test on RocksDB
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val got = spark.table("fsg").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("stream-stream interval join matches docs to annotations within the delay bound") {
    implicit val sqlCtx = spark.sqlContext
    val docMem = MemoryStream[(Long, Timestamp)]
    val annMem = MemoryStream[(Long, Timestamp, String)]
    docMem.addData(
      (1L, t("2024-01-01 00:00:00")),
      (2L, t("2024-01-01 01:00:00")))
    annMem.addData(
      (1L, t("2024-01-01 00:10:00"), "join"),   // within 30 min → matches
      (1L, t("2024-01-01 00:45:00"), "late"),   // beyond 30 min → dropped
      (2L, t("2024-01-01 01:05:00"), "scan"),   // within → matches
      (3L, t("2024-01-01 00:00:00"), "orphan")) // no doc → dropped
    val joined = StreamingPipeline.docAnnotationJoin(
      docMem.toDF().toDF("doc_id", "ts"),
      annMem.toDF().toDF("a_doc_id", "a_ts", "term"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj").select("doc_id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "join"), (2L, "scan")))
  }
}
