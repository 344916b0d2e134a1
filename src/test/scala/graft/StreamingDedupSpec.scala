package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  // distinct base texts (shingle sets disjoint enough to never cross the
  // 0.6 threshold against each other) and near-dup mutations (one word
  // swapped in ~30 words → Jaccard well above 0.6)
  private val baseA = ("alpha " + (1 to 30).map(i => s"a$i").mkString(" "))
  private val baseB = ("bravo " + (1 to 30).map(i => s"b$i").mkString(" "))
  private val baseC = ("carol " + (1 to 30).map(i => s"c$i").mkString(" "))
  private def mutate(t: String) = t.replace(" 17 ", " z ").replaceFirst("a7", "zz")

  test("jaccardBetween finds cross-relation dups, caps old postings, skips same id") {
    val newSh = Dedup.shingleIndex(
      Seq((10L, mutate(baseA)), (11L, baseC)).toDF("doc_id", "text"), "doc_id", "text", 3)
    val oldSh = Dedup.shingleIndex(
      Seq((1L, baseA), (2L, baseB), (10L, mutate(baseA))).toDF("doc_id", "text"), "doc_id", "text", 3)
    val pairs = Dedup.jaccardBetween(newSh, oldSh, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 matches history doc 1 (near-dup) but NOT itself (id 10 in store);
    // 11 (carol) matches nothing
    assert(pairs == Set((10L, 1L)), s"got $pairs")
    // a tiny posting cap of 1 keeps only the lowest-id posting per shingle —
    // doc 1 still wins every shared shingle, so the pair survives the cap
    val capped = Dedup.jaccardBetween(newSh, oldSh, 0.6, maxPostings = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 1L)), s"got $capped")
  }

  test("guarded drops: exact-identical on normal batches, even when the guard is forced") {
    val batch = Seq(
      (1L, baseA), (2L, baseB), (3L, mutate(baseA)), (4L, baseC),
      (5L, mutate(baseB).replace("b3 ", "q "))).toDF("doc_id", "text")
    val sh = Dedup.shingleIndex(batch, "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    val exact = Dedup.jaccardPairsPrefixFrom(sh, 0.6)
      .select($"id_b").as[Long].collect().toSet
    // default budget: guard silent, bit-identical drops
    val guarded = Dedup.jaccardDropsGuarded(sh, 0.6)
      .as[Long].collect().toSet
    assert(guarded == exact, s"guard must be a no-op under budget: $guarded vs $exact")
    // guard FORCED (budget 1): a normal batch has no hot shingles, so the
    // cold/exact path still carries every pair — drops stay identical
    val forced = Dedup.jaccardDropsGuarded(sh, 0.6, pairBudget = 1L)
      .as[Long].collect().toSet
    assert(forced == exact, s"no hot shingles → forced guard must not change drops: $forced")
  }

  test("guarded drops bound the mega-cluster batch: hot path fires, greedy survivors preserved") {
    // the skewed fixture's batch-0 shape: one batch that IS a near-dup
    // cluster (160 docs sharing a 60-token base, pairwise J ≈ 0.93)
    val cluster = graft.tools.SkewedCorpus.documents(spark, 400)
      .filter($"doc_id" % 10 < 4)
    val sh = Dedup.shingleIndex(cluster, "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    val exact = Dedup.jaccardPairsPrefixFrom(sh, 0.6)
      .select($"id_b").as[Long].collect().toSet
    val guardedDf = Dedup.jaccardDropsGuarded(
      sh, 0.6, pairBudget = 1000L, hotPostingCap = 20)
    // collect from THIS DataFrame: .as[Long] would build its own
    // QueryExecution and the observe metric below would stay empty
    val guarded = guardedDf.collect().map(_.getLong(0)).toSet
    // over-budget semantics: never admits what exact greedy rejects...
    assert(exact.subsetOf(guarded), "guarded drops must cover the exact greedy drops")
    // ...and the cluster's min id always survives
    assert(!guarded.contains(0L), "min id of the hot component must survive")
    assert(guarded.size == 159, s"all but the min of a 160-clique drop, got ${guarded.size}")
    // the work was done by the LINEAR hot path, observably: every drop is
    // accounted to the graft.admitGuard metric, not a pair explosion
    val fired = guardedDf.queryExecution.observedMetrics
      .collect { case (n, r) if n.startsWith("graft.admitGuard.") => r }
    assert(fired.nonEmpty, "guard firing must be observable (no-silent-caps)")
    assert(fired.map(_.getAs[Long]("hot_dropped_docs")).sum == 159L)
  }

  test("containmentBetween: subsumed new doc found at tiny Jaccard; caps and self-pairs honored") {
    // doc 20 is the FIRST 12 tokens of history doc 1 (31 tokens): C = 1.0
    // but J ≈ 10/29 ≈ 0.34 — invisible to jaccardBetween at 0.6
    val contained = baseA.split(" ").take(12).mkString(" ")
    val newSh = Dedup.shingleIndex(
      Seq((20L, contained), (21L, baseC)).toDF("doc_id", "text"), "doc_id", "text", 3)
    val oldSh = Dedup.shingleIndex(
      Seq((1L, baseA), (2L, baseB), (20L, contained)).toDF("doc_id", "text"),
      "doc_id", "text", 3)
    val jacc = Dedup.jaccardBetween(newSh, oldSh, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jacc.contains((20L, 1L)), "fixture must be a Jaccard blind spot")
    val got = Dedup.containmentBetween(newSh, oldSh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 20 ⊂ 1 at C = 1.0; NOT its own store copy (self-pair excluded);
    // carol contained in nothing
    assert(got == Set((20L, 1L, 1.0)), s"got $got")
    // posting cap 1: doc 1 is the lowest-id posting on every shared
    // shingle, so the containment survives the cap
    val capped = Dedup.containmentBetween(newSh, oldSh, 0.8, maxPostings = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((20L, 1L)), s"got $capped")
  }

  test("admissionDropsBetween ≡ jaccardBetween ∪ containmentBetween drop ids (fused plan, same answer)") {
    val contained = baseA.split(" ").take(12).mkString(" ")
    val newSh = Dedup.shingleIndex(
      Seq((10L, mutate(baseA)), (20L, contained), (21L, baseC))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    val oldSh = Dedup.shingleIndex(
      Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text"), "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id_new").as[Long].collect().toSet
    for (cap <- Seq(100000, 1)) {
      val unioned = ids(Dedup.jaccardBetween(newSh, oldSh, 0.6, cap)) ++
        ids(Dedup.containmentBetween(newSh, oldSh, 0.8, cap))
      val fused = ids(Dedup.admissionDropsBetween(newSh, oldSh, 0.6, 0.8, cap))
      assert(fused == unioned, s"cap=$cap: fused $fused vs unioned $unioned")
      // jaccard-only mode ≡ jaccardBetween alone
      assert(ids(Dedup.admissionDropsBetween(newSh, oldSh, 0.6, 0.0, cap)) ==
        ids(Dedup.jaccardBetween(newSh, oldSh, 0.6, cap)))
    }
  }

  test("admitBatch containment admission: subsumed doc rejected only when enabled") {
    val contained = baseA.split(" ").take(12).mkString(" ")
    def freshStore() = Files.createTempDirectory("sd-contain").toString + "/store"
    def run(store: String, containThreshold: Double): Set[Long] = {
      StreamingDedup.admitBatch(spark,
        Seq((1L, baseA), (2L, baseB)).toDF("doc_id", "text"),
        "doc_id", "text", store, batchId = 0L,
        containThreshold = containThreshold)
      StreamingDedup.admitBatch(spark,
        Seq((30L, contained), (31L, baseC)).toDF("doc_id", "text"),
        "doc_id", "text", store, batchId = 1L,
        containThreshold = containThreshold)
        .select("doc_id").as[Long].collect().toSet
    }
    // Jaccard-only admission admits the subsumed doc (the blind spot)…
    assert(run(freshStore(), containThreshold = 0.0) == Set(30L, 31L))
    // …containment admission (C ≥ 0.8) drops it; the fresh doc still lands
    assert(run(freshStore(), containThreshold = 0.8) == Set(31L))
  }

  test("admitBatch under the guard: mega-cluster batch admits one doc; history comparison intact") {
    val store = Files.createTempDirectory("sd-guard").toString + "/store"
    val cluster = graft.tools.SkewedCorpus.documents(spark, 400)
      .filter($"doc_id" % 10 < 4).select($"doc_id", $"text")
    val survivors = StreamingDedup.admitBatch(
      spark, cluster, "doc_id", "text", store, batchId = 0L,
      pairBudget = 1000L, hotPostingCap = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(0L), s"one survivor from a pure cluster batch, got $survivors")
    // a later batch near-dup of the admitted base still drops via history
    val echo = Seq((9999L, cluster.filter($"doc_id" === 0L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    val s2 = StreamingDedup.admitBatch(spark, echo, "doc_id", "text", store, batchId = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(s2.isEmpty, s"history near-dup must be rejected, got $s2")
  }

  test("admission replay after a compaction: same survivors, store unchanged, no horizon throw") {
    val store = Files.createTempDirectory("sd-compact").toString + "/store"
    val baseD = "delta " + (1 to 30).map(i => s"d$i").mkString(" ")
    def admit(docs: Seq[(Long, String)], batchId: Long): Set[Long] =
      StreamingDedup.admitBatch(spark, docs.toDF("doc_id", "text"), "doc_id", "text",
        store, batchId).select("doc_id").as[Long].collect().toSet
    def storeRows(): Seq[String] =
      graft.sources.Sinks.readBatchStore(spark, store).get
        .collect().map(_.toString).sorted.toSeq
    val c = 3L
    Seq(baseA, baseB, baseC).zipWithIndex.foreach { case (t, b) =>
      assert(admit(Seq((b + 1L, t)), b.toLong) == Set(b + 1L))
    }
    // merge batches 0..c-1 into partition c-1, as the drivers do before batch c
    assert(graft.sources.Sinks.compactBatchStore(spark, store, upToBatch = c) == 3)
    // batch c: a near-dup of batch 0's doc (dropped through the merged
    // history) and a new doc; the second run is the replay, which must
    // not read the first run's own partition as history
    val batch = Seq((10L, mutate(baseA)), (11L, baseD))
    val first = admit(batch, c)
    val rowsAfterFirst = storeRows()
    val replay = admit(batch, c)
    assert(first == Set(11L), s"first run survivors: $first")
    assert(replay == first, s"replay survivors: $replay")
    assert(storeRows() == rowsAfterFirst, "the replay must rewrite its partition unchanged")
  }

  test("streaming admission dedups within batch and against history; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("sd-store").toString + "/store"
    val sink = Files.createTempDirectory("sd-sink").toString + "/survivors"
    val ckpt = Files.createTempDirectory("sd-ckpt").toString
    val mem = MemoryStream[(Long, String)]

    def drain(): Unit = {
      val q = StreamingDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", store, sink, ckpt)
      q.awaitTermination()
    }

    // batch 1: A, B, and a near-dup of A (within-batch drop of the higher id)
    mem.addData((1L, baseA), (2L, baseB), (3L, mutate(baseA)))
    drain()
    val after1 = spark.read.parquet(sink).select("doc_id").as[Long].collect().sorted
    assert(after1.toSeq == Seq(1L, 2L), s"batch 1 survivors: ${after1.toSeq}")

    // batch 2: near-dup of B (cross-history drop) + genuinely new C
    mem.addData((4L, mutate(baseB).replace("b3 ", "q ")), (5L, baseC))
    drain()
    val after2 = spark.read.parquet(sink).select("doc_id").as[Long].collect().sorted
    assert(after2.toSeq == Seq(1L, 2L, 5L), s"batch 2 survivors: ${after2.toSeq}")

    // the store holds exactly the survivors' shingle postings
    val storeIds = spark.read.parquet(store).select("__id").distinct().as[Long].collect().sorted
    assert(storeIds.toSeq == Seq(1L, 2L, 5L))

    // replaying an already-admitted doc in a later batch: dropped as a dup
    // of history (id differs), while an identical-id replay is ignored by
    // the self-pair guard and simply re-admitted idempotently
    mem.addData((6L, baseC), (5L, baseC))
    drain()
    val after3 = spark.read.parquet(sink).select("doc_id").as[Long].collect().sorted
    assert(after3.toSeq == Seq(1L, 2L, 5L), s"replay survivors: ${after3.toSeq}")
  }
}
