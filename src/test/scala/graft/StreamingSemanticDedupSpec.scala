package graft

import java.nio.file.Files

import graft.streaming.StreamingSemanticDedup

/** Incremental semantic-dedup admission: within-batch SemDeDup, then
  * batch-vs-history per cell, store extended by survivors only, idempotent
  * under replay.
  */
class StreamingSemanticDedupSpec extends SparkSuite {
  import spark.implicits._

  // two orthogonal centroids: cell 10 ≈ x-axis, cell 20 ≈ y-axis
  private val cents = Array(
    (10L, Seq(1.0, 0.0, 0.0, 0.0)),
    (20L, Seq(0.0, 1.0, 0.0, 0.0)))

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("admits within-batch survivors, drops cross-history semantic dups, replays idempotently") {
    val store = Files.createTempDirectory("graft_sem_store").toString + "/store"

    // batch 1: a≈b in cell 10 (b drops within batch); d alone in cell 20
    val b1 = emb(
      1L -> Seq(1.0f, 0.01f, 0f, 0f),
      2L -> Seq(1.0f, 0.02f, 0f, 0f),
      7L -> Seq(0f, 1.0f, 0f, 0f))
    val out1 = StreamingSemanticDedup
      .admitBatch(spark, b1, cents, store, batchId = 0L, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(out1 == Set(1L, 7L), "within-batch: greater id of the near-pair drops")

    // batch 2: c ≈ batch-1's survivor (cross-history drop); e is a new
    // direction in cell 20 far from d (admitted)
    val b2 = emb(
      3L -> Seq(1.0f, 0.03f, 0f, 0f),
      8L -> Seq(0.1f, 1.0f, 3.0f, 0f))
    val out2 = StreamingSemanticDedup
      .admitBatch(spark, b2, cents, store, batchId = 1L, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(out2 == Set(8L), "history: vec 3 is semantically already admitted")

    // replay batch 2 (micro-batch retry, SAME batch id): same decision,
    // same store contents — the partition is rewritten identically
    val replay = StreamingSemanticDedup
      .admitBatch(spark, b2, cents, store, batchId = 1L, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(replay == Set(8L), "replay must reproduce the admission decision")
    val stored = spark.read.parquet(store)
    assert(stored.select("vec_id").as[Long].collect().toSet == Set(1L, 7L, 8L))
    assert(stored.count() == 3L, "partition-overwrite replay: no duplicate store rows")
  }

  test("store-side cell cap bounds the history comparison and is observable") {
    val store = Files.createTempDirectory("graft_sem_cap").toString + "/store"
    // 5 vectors fanning 0°..31° off the x-axis (adjacent gap ≈8.5°,
    // cos ≈ 0.99): all assign to cell 10, none is a θ=0.999 near-dup of
    // another, so all 5 are admitted
    val b1 = emb((0 until 5).map { i =>
      (i.toLong, Seq(1.0f, 0.15f * i, 0f, 0f))
    }: _*)
    assert(StreamingSemanticDedup
      .admitBatch(spark, b1, cents, store, batchId = 0L, threshold = 0.999).count() == 5L)

    // a new vector identical to the FARTHEST-from-centroid stored vector:
    // with the store cell capped to 2, the compared prefix is the 2
    // most-central members (vecs 0 and 1 — here centrality decreases with
    // id), so vec 4's twin is outside it and the arrival is admitted —
    // bounded work, documented recall loss
    val b2 = emb(100L -> Seq(1.0f, 0.6f, 0f, 0f))
    val out = StreamingSemanticDedup.admitBatch(
      spark, b2, cents, store, batchId = 1L, threshold = 0.999, maxStorePerCell = 2)
    assert(out.count() == 1L, "cap excluded the twin from the comparison")
    // and the same arrival against the FULL store is dropped
    val out2 = StreamingSemanticDedup.admitBatch(
      spark, emb(101L -> Seq(1.0f, 0.6f, 0f, 0f)), cents, store,
      batchId = 2L, threshold = 0.999)
    assert(out2.count() == 0L, "uncapped comparison catches the twin")
  }

  test("capped prefix tracks the cell: a newly admitted central vector screens its own twins") {
    val store = Files.createTempDirectory("graft_sem_track").toString + "/store"
    // seed the cell over the cap: 5 vectors fanning off the x-axis, no
    // θ=0.999 pair among them — centrality (cos to centroid) decreases
    // with id, so the cap-2 prefix starts as {0, 1}
    val b1 = emb((0 until 5).map { i =>
      (i.toLong, Seq(1.0f, 0.15f * i, 0f, 0f))
    }: _*)
    assert(StreamingSemanticDedup.admitBatch(
      spark, b1, cents, store, batchId = 0L, threshold = 0.999, maxStorePerCell = 2)
      .count() == 5L)

    // vec 200 = (1, 0.05): more central than vec 1 = (1, 0.15) but not a
    // θ=0.999 dup of vec 0 (cos ≈ 0.99875) → admitted, and it DISPLACES
    // vec 1 from the top-2 centrality prefix
    assert(StreamingSemanticDedup.admitBatch(
      spark, emb(200L -> Seq(1.0f, 0.05f, 0f, 0f)), cents, store,
      batchId = 1L, threshold = 0.999, maxStorePerCell = 2).count() == 1L)

    // vec 201 is vec 200's twin: only catchable if the compared prefix now
    // CONTAINS 200 (a frozen lowest-id prefix {0, 1} would admit it —
    // cos(201, 0) ≈ 0.99875 and cos(201, 1) ≈ 0.995, both under θ)
    assert(StreamingSemanticDedup.admitBatch(
      spark, emb(201L -> Seq(1.0f, 0.05f, 0f, 0f)), cents, store,
      batchId = 2L, threshold = 0.999, maxStorePerCell = 2).count() == 0L,
      "the new central admission must enter the compared prefix")
  }

  test("admitBatch's history drops match Dedup.semanticBetween on the same data") {
    val store = Files.createTempDirectory("graft_sem_twin").toString + "/store"
    // admitted history: one vector per cell
    val h = emb(1L -> Seq(1.0f, 0.01f, 0f, 0f), 7L -> Seq(0f, 1.0f, 0f, 0f))
    graft.streaming.StreamingSemanticDedup
      .admitBatch(spark, h, cents, store, batchId = 0L, threshold = 0.9).count()
    // batch: x ≈ history vec 1 (cross-history drop), y far from vec 7
    // (admitted); no within-batch pair at θ=0.9
    val batch = emb(
      3L -> Seq(1.0f, 0.03f, 0f, 0f),
      8L -> Seq(0.1f, 1.0f, 3.0f, 0f))
    val admitted = graft.streaming.StreamingSemanticDedup
      .admitBatch(spark, batch, cents, store, batchId = 1L, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    val droppedByAdmission = Set(3L, 8L) -- admitted
    // the relational twin over the identical (batch, history) relations
    val twinDrops = graft.operators.Dedup
      .semanticBetween(batch, h, cents, threshold = 0.9)
      .select("id_new").distinct().as[Long].collect().toSet
    assert(twinDrops == droppedByAdmission,
      s"q106's operator must reproduce the admission decision: $twinDrops vs $droppedByAdmission")
  }
}
