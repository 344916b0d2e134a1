package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{AnnotationPipeline, NlpService}

/** Pipeline-fidelity tests encoding the reference's exact semantics
  * (SURVEY.md §2.1 citations inline).
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("F1 length filter: len<5 dropped, len==5 kept, nulls dropped " +
      "(annotations_indexer.py:66,244-248)") {
    val docs = Seq(
      (1L, "abcd"),          // len 4 → drop
      (2L, "abcde"),         // len 5 → keep
      (3L, null.asInstanceOf[String]), // null → drop
      (4L, "a longer document")        // keep
    ).toDF("doc_id", "text")
    val kept = AnnotationPipeline.filterValidText(docs).select("doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L))
  }

  test("P5 name normalization matches the reference table (es_common.py:116-131, FIXTURES B6)") {
    val cases = Seq(
      "Drug" -> "drug",
      "Sign or Symptom" -> "sign_or_symptom",
      "A/B#C?D" -> "a_b_c_d",
      "..leading.trailing--" -> "leading.trailing",
      "Has Space\tAnd\\Slash" -> "has_space_and_slash")
    val got = cases.map(_._1).toDF("x")
      .select(TextFunctions.normalizeIndexName($"x").as("n"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("P5 normalization is idempotent") {
    val inputs = Seq("Drug", "A/B#C?D", "__x__", "a b c", "+.-_", "UPPER lower")
    val once = inputs.toDF("x").select(TextFunctions.normalizeIndexName($"x").as("n"))
    val twice = once.select(TextFunctions.normalizeIndexName($"n").as("n2"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("P2 composite keys: doc-<id>-ann-<annid> and doc_<id>_annotations " +
      "(annotations_indexer.py:221,167)") {
    val df = Seq((7L, 2L)).toDF("doc_id", "ann_id")
    val flat = df.select(AnnotationPipeline.annotationKey().as("k")).as[String].head()
    val nested = df.select(AnnotationPipeline.nestedDocKey().as("k")).as[String].head()
    assert(flat == "doc-7-ann-2")
    assert(nested == "doc_7_annotations")
  }

  test("dictionary tagger: expression path ≡ mapPartitions MockTagger path (U1)") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val viaExpr = AnnotationPipeline.annotateDictionary(docs)
      .select($"doc_id", $"term", $"ann_start", $"ann_end", $"source_value")
      .collect().map(_.toSeq).toSet
    val viaSvc = NlpService.annotateAndExplode(
        spark, docs, new NlpService.MockTagger(AnnotationPipeline.DefaultTerms))
      .select($"doc_id", $"detected_name".as("term"), $"start", $"end", $"source_value")
      .collect().map(_.toSeq).toSet
    assert(viaExpr == viaSvc)
    assert(viaExpr.nonEmpty)
  }

  test("source_value == text[start:end) — Python slice semantics (nlp_service.py:120-121)") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val anns = AnnotationPipeline.annotateDictionary(docs)
    val bad = anns.filter(
      expr("substring(text, ann_start + 1, ann_end - ann_start) <> source_value"))
    assert(bad.count() == 0)
  }

  test("flat projection carries meta./nlp. dotted namespaces (annotations_indexer.py:202-212)") {
    val docs = Tables.documents(spark, sfDir).limit(20)
    val anns = AnnotationPipeline.withAnnId(AnnotationPipeline.annotateDictionary(docs))
    val flat = AnnotationPipeline.projectFlat(anns,
      persistFields = Seq("doc_id", "lang"),
      annFields = Seq("term", "ann_start", "ann_end", "source_value"))
    assert(flat.columns.toSet ==
      Set("_id", "meta.doc_id", "meta.lang",
          "nlp.term", "nlp.ann_start", "nlp.ann_end", "nlp.source_value"))
    assert(flat.count() > 0)
  }

  test("nested mode round-trips: explode(projectNested) == flat annotation set (K6/X2)") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val anns = AnnotationPipeline.withAnnId(AnnotationPipeline.annotateDictionary(docs))
    val nested = AnnotationPipeline.projectNested(anns, Seq("doc_id"), Seq("term", "ann_start"))
    val back = nested
      .select(col("`meta.doc_id`").as("doc_id"), explode($"annotations").as("a"))
      .select($"doc_id", $"a.term", $"a.ann_start")
      .collect().map(_.toSeq).toSet
    val orig = anns.select($"doc_id", $"term", $"ann_start").collect().map(_.toSeq).toSet
    assert(back == orig)
  }

  test("F2 anti-join removes exactly the sinked doc ids (annotations_indexer.py:80-101)") {
    val docs = Tables.documents(spark, sfDir)
    val sink = Seq(0L, 1L, 2L).toDF("meta_doc_id")
    val remaining = AnnotationPipeline.filterAlreadyProcessed(docs, sink)
    assert(remaining.count() == docs.count() - 3)
    assert(remaining.filter($"doc_id".isin(0L, 1L, 2L)).count() == 0)
  }

  test("F2 bloom reroute ≡ plain anti-join, bit-exact, at any bloom size") {
    val docs = Tables.documents(spark, sfDir)
    val sink = docs.filter($"doc_id" % 3 === 0).select($"doc_id".as("meta_doc_id"))
    // one more probe with a null doc_id row: the anti-join keeps it (null
    // never matches), so whichever branch the bloom routes it to must too
    val withNullId = docs.unionByName(
      docs.limit(1).withColumn("doc_id", lit(null).cast("long")))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
      df.select("doc_id").as[Option[Long]].collect().toSeq.sortBy(_.getOrElse(Long.MinValue))
    for (probe <- Seq(docs, withNullId)) {
      val exact = ids(AnnotationPipeline.filterAlreadyProcessed(probe, sink))
      // properly sized bloom AND a pathologically tiny one (64 bits for ~20
      // ids → dense false positives): both must reroute, never change results
      for (items <- Seq(100000L, 1L)) {
        val got = ids(AnnotationPipeline.filterAlreadyProcessedBloom(
          probe, sink, expectedItems = items, fpp = 0.5))
        assert(got == exact, s"expectedItems=$items")
      }
    }
    assert(ids(AnnotationPipeline.filterAlreadyProcessedBloom(withNullId, sink))
      .count(_.isEmpty) == 1, "the null doc_id row must survive the reroute")
  }

  test("F2 bloom reroute: empty processed side passes everything through") {
    val docs = Tables.documents(spark, sfDir)
    val sink = Seq.empty[Long].toDF("meta_doc_id")
    val got = AnnotationPipeline.filterAlreadyProcessedBloom(docs, sink)
    assert(got.count() == docs.count())
  }

  test("F2 bloom reroute plan: probe splits on might_contain, anti-join sees only the positive branch") {
    val docs = Tables.documents(spark, sfDir)
    val sink = docs.filter($"doc_id" % 3 === 0).select($"doc_id".as("meta_doc_id"))
    val plan = AnnotationPipeline.filterAlreadyProcessedBloom(docs, sink)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    // the union's first branch (bloom-negative) must carry NO join
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
    val union = AnnotationPipeline.filterAlreadyProcessedBloom(docs, sink)
      .queryExecution.optimizedPlan.collectFirst { case u: Union => u }
    assert(union.nonEmpty, "expected a Union of fresh/confirmed branches")
    val freshBranch = union.get.children.head
    assert(freshBranch.collectFirst { case j: Join => j }.isEmpty,
      "bloom-negative branch must bypass the anti-join")
    val posBranch = union.get.children(1)
    assert(posBranch.collectFirst { case j: Join => j }.nonEmpty)
  }

  test("tagger error isolation: a throwing tagger yields error rows, not task failure (B4)") {
    val docs = Seq((1L, "has join inside"), (2L, "boom")).toDF("doc_id", "text")
    val tagger = new NlpService.Tagger {
      override def annotate(d: NlpService.Doc): Seq[NlpService.Annotation] =
        if (d.text == "boom") throw new RuntimeException("nlp down")
        else new NlpService.MockTagger(AnnotationPipeline.DefaultTerms).annotate(d)
    }
    val out = NlpService.annotate(
      docs.select($"doc_id", $"text").as[NlpService.Doc], tagger).collect()
    assert(out.length == 2)
    assert(out.count(_.error != null) == 1)
    assert(out.find(_.doc_id == 1L).get.annotations.nonEmpty)
  }
}
