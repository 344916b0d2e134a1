package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AnnotationPipeline, NlpService}
import graft.streaming.{EsUpsertSink, IngestJob}

/** The ingest job end to end: its sink equals the batch composition of the
  * same operators, a catch-up run over an unchanged source is a no-op, a
  * date range is half-open and pinned to its checkpoint, split-by-field
  * runs accumulate, F2 drops re-deliveries and nothing else, and the nested
  * output is exactly the composition the benchmark drives by hand.
  */
class IngestJobSpec extends SparkSuite {
  import spark.implicits._

  private val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)

  private def tmp(tag: String): String = Files.createTempDirectory(s"ingest-$tag").toString

  private def run(cfg: PipelineConfig, ckpt: String): Unit =
    IngestJob.start(spark, cfg, tagger, ckpt).awaitTermination()

  /** Every row, columns sorted by name, values as strings. */
  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.map(c => col(s"`$c`").cast("string")): _*)
      .collect().map(_.toSeq).toSet

  test("sink equals the batch composition; re-run is a no-op") {
    val srcDir = tmp("src")
    val sink = tmp("sink") + "/annotations"
    val ckpt = tmp("ckpt")
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .limit(200)
    // two files → the file source sees (at least) two inputs
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$srcDir/even")
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$srcDir/odd")
    val glob = s"$srcDir/*"
    val persist = Seq("doc_id", "lang", "source")
    val cfg = PipelineConfig(sourcePath = glob, sinkPath = sink, persistFields = persist)

    run(cfg, ckpt)
    val streamed = spark.read.parquet(sink)
    assert(streamed.columns.contains("_id"))
    assert(streamed.columns.count(_.startsWith("meta.")) == 3)
    assert(streamed.columns.count(_.startsWith("nlp.")) == 7)

    // batch twin: same docs, same tagger, the flat projection written out
    val filtered = AnnotationPipeline.filterValidText(
      spark.read.parquet(glob).select($"doc_id", $"text", $"lang", $"source"))
    val flat = NlpService.annotateAndExplode(spark, filtered, tagger)
      .join(filtered.select($"doc_id", $"lang", $"source"), Seq("doc_id"))
    val annFields = Seq("id", "cui", "detected_name", "source_value", "acc", "start", "end")
    val batch = flat.select(AnnotationPipeline.annotationKey("doc_id", "id").as("_id") +:
      (persist.map(f => col(f).as(s"meta.$f")) ++ annFields.map(f => col(f).as(s"nlp.$f"))): _*)
    val (ks, kb) = (rows(streamed), rows(batch))
    assert(ks == kb,
      s"streamed sink must equal the batch composition; stream-only=${(ks -- kb).take(5)} batch-only=${(kb -- ks).take(5)}")
    assert(streamed.count() > 0)

    // drain again with the SAME checkpoint: no new files → no new records
    run(cfg, ckpt)
    assert(rows(spark.read.parquet(sink)) == kb, "re-drain must be a no-op")
  }

  test("full run over a dated corpus: every doc exactly once") {
    val srcDir = tmp("dated") + "/docs"
    val sinkDir = tmp("dated-sink") + "/out"
    // 90 days of docs, one per day, each with two taggable terms, plus one
    // doc dated on dateEnd, which the half-open range must leave out
    (0 to 90).map { i =>
      (i.toLong, s"daily report $i with join and merge inside",
        LocalDate.parse("2020-01-01").plusDays(i.toLong).toString)
    }.toDF("doc_id", "text", "dct")
      .write.parquet(srcDir)
    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir,
      dateStart = Some("2020-01-01"), dateEnd = Some("2020-03-31"))
    run(cfg, tmp("dated-ckpt"))

    val out = spark.read.parquet(sinkDir)
    // 90 docs × 2 annotations (join, merge), each exactly once
    assert(out.count() == 180)
    assert(out.select("_id").distinct().count() == 180)
    val perDoc = out.groupBy("`meta.doc_id`").agg(count(lit(1)).as("n"))
    assert(perDoc.count() == 90)
    assert(perDoc.filter($"n" =!= 2).count() == 0)
    assert(out.filter($"`meta.doc_id`" === 90L).isEmpty, "a doc dated on dateEnd is out of range")
  }

  test("split-by-field keeps all: a later catch-up run never truncates an earlier one") {
    val srcDir = tmp("split") + "/docs"
    val sinkDir = tmp("split-sink") + "/out"
    val ckpt = tmp("split-ckpt")
    def write(ids: Seq[Int], source: Int => String): Unit =
      ids.map(i => (i.toLong, s"doc $i with join inside", source(i)))
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("append").parquet(srcDir)
    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir, persistFields = Seq("doc_id", "source"),
      splitIndexByField = Some("meta.source"))
    val docIds = () => spark.read.parquet(sinkDir).select("`meta.doc_id`").as[Long].collect().sorted.toSeq

    write(0 until 5, i => s"src${i % 2}")
    run(cfg, ckpt)
    assert(docIds() == (0L until 5L))
    // the second run touches only the src1 partition; src0 must survive it
    write(5 until 9, _ => "src1")
    run(cfg, ckpt)
    val parts = spark.read.parquet(sinkDir).groupBy("__part").count()
      .as[(String, Long)].collect().toMap
    assert(parts == Map("src0" -> 3L, "src1" -> 6L), s"got $parts")
    assert(docIds() == (0L until 9L))

    // a replayed micro-batch (its commit lost) converges
    Files.delete(Path.of(ckpt, "commits", "1"))
    Files.deleteIfExists(Path.of(ckpt, "commits", ".1.crc"))
    run(cfg, ckpt)
    assert(docIds() == (0L until 9L))
  }

  test("re-run is idempotent: the same checkpoint is a no-op, a fresh one converges") {
    val srcDir = tmp("rerun") + "/docs"
    val sinkDir = tmp("rerun-sink") + "/out"
    (0 until 10).map(i => (i.toLong, s"text $i has a window here", "2020-01-05"))
      .toDF("doc_id", "text", "dct")
      .write.parquet(srcDir)
    val cfg = PipelineConfig(sourcePath = srcDir, sinkPath = sinkDir)
    val ckpt = tmp("rerun-ckpt")
    run(cfg, ckpt)
    val first = rows(spark.read.parquet(sinkDir))
    assert(first.size == 10) // one 'window' annotation per doc
    run(cfg, ckpt)
    assert(rows(spark.read.parquet(sinkDir)) == first, "same checkpoint: nothing new")
    run(cfg, tmp("rerun-ckpt2"))
    assert(rows(spark.read.parquet(sinkDir)) == first, "fresh checkpoint: the upsert converges")
  }

  test("nested output equals NlpService.annotate composed by hand, on schema and rows") {
    val srcDir = tmp("nested")
    val ts = new Timestamp(1700000000000L)
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text").limit(60)
      .as[(Long, String)].collect().toSeq.map { case (id, text) => (id, text, ts) }
    docs.toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(srcDir)
    // a re-delivered doc (F2) and a too-short one (F1)
    (docs.take(5) :+ ((-1L, "tiny", ts))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = IngestJob.source(spark, srcDir)
    val cfg = PipelineConfig(sourcePath = srcDir, dateField = "ts", useNestedObjects = true)
    val job = IngestJob.annotated(stream, cfg, tagger)
    val composed = NlpService.annotate(
        AnnotationPipeline.filterValidText(stream)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("doc_id")
          .select(col("doc_id"), col("text"))
          .as[NlpService.Doc],
        tagger)
      .filter(col("error").isNull)
      .select(AnnotationPipeline.nestedDocKey("doc_id").as("_id"),
        col("doc_id").as("meta.doc_id"), col("annotations"))
    assert(job.schema == composed.schema)
    def drain(df: DataFrame, name: String): Set[Seq[Any]] = {
      df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp(name)).trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      spark.table(name).collect().map(_.toSeq).toSet
    }
    val (j, c) = (drain(job, "ingest_job"), drain(composed, "ingest_composed"))
    assert(j.size == docs.count { case (_, t, _) => t != null && t.length >= AnnotationPipeline.MinTextLen })
    assert(j == c, s"job-only=${(j -- c).take(3)} composed-only=${(c -- j).take(3)}")
  }

  test("ES face: exact contents in the stub, failed-doc total read from the checkpoint") {
    EsStub.withStub { stub =>
      stub.rejectIds.add("doc_7_annotations")
      val srcDir = tmp("es")
      val ckpt = tmp("es-ckpt")
      val docs = (0 until 30).map(i => (i.toLong, s"doc $i: ${AnnotationPipeline.DefaultTerms(i % 8)} and hash"))
      docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      val cfg = PipelineConfig(sourcePath = srcDir, sinkPath = s"${stub.url}/anns",
        useNestedObjects = true)
      val flatEs = cfg.copy(useNestedObjects = false)
      intercept[IllegalArgumentException](IngestJob.start(spark, flatEs, tagger, ckpt))

      run(cfg, ckpt)
      val got = stub.indices("anns")._2
      val landed = docs.filter(_._1 != 7L)
      assert(got.keySet == landed.map(d => s"doc_${d._1}_annotations").toSet)
      landed.foreach { case (id, text) =>
        val stored = got(s"doc_${id}_annotations")
        assert(stored.path("meta.doc_id").asLong(-1) == id)
        val anns = tagger.annotate(NlpService.Doc(id, text))
        val arr = stored.path("annotations")
        assert(arr.size == anns.size && anns.nonEmpty)
        anns.zipWithIndex.foreach { case (a, i) =>
          val e = arr.get(i)
          assert(e.path("id").asLong(-1) == a.id && e.path("cui").asText() == a.cui &&
            e.path("detected_name").asText() == a.detected_name &&
            e.path("source_value").asText() == a.source_value &&
            e.path("acc").asDouble() == a.acc && e.path("start").asLong(-1) == a.start &&
            e.path("end").asLong(-1) == a.end, s"doc $id annotation $i: $e")
        }
      }
      assert(EsUpsertSink.failedTotal(ckpt) == 1L)
      // a catch-up run finds no new file and keeps the total
      run(cfg, ckpt)
      assert(EsUpsertSink.failedTotal(ckpt) == 1L)
    }
  }

  /** Move the one parquet file of `df` to `<dir>/<name>` with the given
    * modification time, which orders it for the file source.
    */
  private def oneFile(df: DataFrame, dir: String, name: String, mtime: Long): Unit = {
    val part = tmp(s"one-$name")
    df.coalesce(1).write.mode("overwrite").parquet(part)
    val file = new File(part).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new File(dir, name)
    Files.move(file.toPath, dst.toPath)
    assert(dst.setLastModified(mtime))
  }

  test("F2 drops only re-deliveries: an older-dated doc in a later trigger or run lands") {
    def doc(id: Long, term: String, dct: String): DataFrame =
      Seq((id, s"doc $id with $term inside", dct)).toDF("doc_id", "text", "dct")
    val (t0, hi) = (1700000000000L, 10000000L)
    // three files, one per trigger: the third is dated two months before
    // the first two, and its id is far below theirs
    val srcDir = tmp("late")
    oneFile(doc(hi, "join", "2020-03-01"), srcDir, "f1.parquet", t0)
    oneFile(doc(hi + 1, "join", "2020-03-02"), srcDir, "f2.parquet", t0 + 60000L)
    oneFile(doc(1, "join", "2020-01-01"), srcDir, "f3.parquet", t0 + 120000L)
    val stream = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = IngestJob.annotated(stream, PipelineConfig(sourcePath = srcDir), tagger)
      .writeStream.format("memory").queryName("late_triggers")
      .option("checkpointLocation", tmp("late-ckpt")).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3, "one file per trigger")
    assert(spark.table("late_triggers").select("`meta.doc_id`").as[Long].collect().toSet ==
      Set(hi, hi + 1, 1L))

    // two catch-up runs on one checkpoint: the second brings an older doc
    // and a re-delivery of doc 1 with other text, which F2 drops
    val runDir = tmp("late-runs") + "/docs"
    val sinkDir = tmp("late-runs-sink") + "/out"
    val ckpt = tmp("late-runs-ckpt")
    val cfg = PipelineConfig(sourcePath = runDir, sinkPath = sinkDir)
    doc(1, "join", "2020-03-01").union(doc(2, "join", "2020-03-02")).write.mode("append").parquet(runDir)
    run(cfg, ckpt)
    doc(3, "join", "2020-01-01").union(doc(1, "merge", "2020-03-01")).write.mode("append").parquet(runDir)
    run(cfg, ckpt)
    val got = spark.read.parquet(sinkDir).select("`meta.doc_id`", "`nlp.detected_name`")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "join"), (2L, "join"), (3L, "join")), s"got $got")
  }

  test("a checkpoint keeps its date range: another range needs a fresh checkpoint") {
    val srcDir = tmp("range") + "/docs"
    val sinkDir = tmp("range-sink") + "/out"
    Seq((1L, "january doc with join", "2020-01-10"), (2L, "march doc with join", "2020-03-10"))
      .toDF("doc_id", "text", "dct").write.parquet(srcDir)
    val jan = PipelineConfig(sourcePath = srcDir, sinkPath = sinkDir,
      dateStart = Some("2020-01-01"), dateEnd = Some("2020-02-01"))
    val mar = jan.copy(dateStart = Some("2020-03-01"), dateEnd = Some("2020-04-01"))
    val ckpt = tmp("range-ckpt")
    val docIds = () => spark.read.parquet(sinkDir).select("`meta.doc_id`").as[Long].collect().toSet
    run(jan, ckpt)
    assert(docIds() == Set(1L))
    // the checkpoint has consumed the one file: March's doc in it would be lost
    val e = intercept[IllegalArgumentException](IngestJob.start(spark, mar, tagger, ckpt))
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
    intercept[IllegalArgumentException](IngestJob.start(spark, jan.copy(dateStart = None), tagger, ckpt))
    run(jan, ckpt) // the same range resumes
    run(mar, tmp("range-ckpt2"))
    assert(docIds() == Set(1L, 2L))
  }

  test("a doc without a numeric id is left out; the others are annotated (B4)") {
    val docs = Seq(("1", "first doc with join"), (null, "second doc with join"), ("x", "third doc with join"))
      .toDF("doc_id", "text")
    val out = IngestJob.annotated(docs, PipelineConfig(sourcePath = ""), tagger)
    assert(out.select("`meta.doc_id`", "`nlp.detected_name`").as[(Long, String)].collect().toSeq ==
      Seq((1L, "join")))
    val rows = NlpService.annotateRows(
      docs.select(col("doc_id").try_cast("long").as("doc_id"), col("text")), tagger)
    assert(rows.select("doc_id").as[Long].collect().toSeq == Seq(1L), "a null id is left out")
    assert(!rows.schema("doc_id").nullable)
  }
}
