package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.tools.{CapMetricsListener, SkewedCorpus}

/** The skewed fixture under fire: pins (a) the corpus actually HAS the
  * degeneracies the caps guard against, (b) each cap's recall delta is the
  * documented one — hot coverage is the only thing sacrificed, cold
  * results are bit-identical — and (c) the firings are observable through
  * the session listener. [[graft.BenchSkew]] measures the same machinery
  * at 10× this size; this spec makes the semantics regression-proof.
  */
class SkewFixtureSpec extends SparkSuite {
  import spark.implicits._

  // small enough for CI, large enough that hot populations exceed the
  // test caps: 400 docs → 160 near-dups; 400 vecs → 192 in the hot cell
  private lazy val docs = SkewedCorpus.documents(spark, 400).cache()
  private lazy val emb = SkewedCorpus.embeddings(spark, 400).cache()
  private def isHotDoc(id: Long): Boolean = id % 10 < 4
  private def isHotVec(id: Long): Boolean = id >= 16 && id % 2 == 0

  test("fixture is deterministic and carries the declared skew profile") {
    val again = SkewedCorpus.documents(spark, 400)
    assert(docs.exceptAll(again).isEmpty && again.exceptAll(docs).isEmpty,
      "two generator invocations must agree row for row")
    // dominant language ~90%
    val en = docs.filter($"lang" === "en").count().toDouble / 400
    assert(en > 0.85 && en < 0.95, s"en share $en")
    // hot join key: near-dup + boilerplate bands share one source
    val hot = docs.filter($"source" === "hotsrc").count().toDouble / 400
    assert(hot > 0.65 && hot < 0.75, s"hotsrc share $hot")
    // the giant cluster really is pairwise-near-dup: J(base+2, base+2') ≈ .93
    val pair = Dedup.jaccardPairs(
      docs.filter($"doc_id".isin(0L, 10L, 20L)), "doc_id", "text", 3, 0.6)
    assert(pair.count() == 3, "every hot pair clears the 0.6 threshold")
    assert(pair.agg(min("jaccard")).head().getDouble(0) > 0.9)
    // the hot semantic cell: every hot vector within ~4 degrees of axis 0
    val e0 = (0 until 64).map(i => if (i == 0) 1.0 else 0.0)
    val hotCos = emb.filter($"vec_id" >= 16 && $"vec_id" % 2 === 0)
      .select(Similarity.cosine(
        Similarity.toDoubleArray($"embedding"), typedLit(e0)).as("c"))
    assert(hotCos.agg(min("c")).head().getDouble(0) > 0.997)
  }

  test("jaccardBetween posting cap: capped pairs are a subset, cold pairs are untouched") {
    val shNew = Dedup.shingleIndex(
      docs.filter($"doc_id" % 7 === 0), "doc_id", "text", 3)
    val shOld = Dedup.shingleIndex(
      docs.filter($"doc_id" % 7 =!= 0), "doc_id", "text", 3)
    val open = Dedup.jaccardBetween(shNew, shOld, 0.6, maxPostings = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.jaccardBetween(shNew, shOld, 0.6, maxPostings = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(open), "a cap can only UNDERCOUNT, never invent")
    assert(capped.size < open.size, "the hot cluster must actually trip the cap")
    // only hot×hot coverage may be sacrificed: every open pair with a
    // non-hot member survives the cap bit-identically (cold shingles'
    // posting lists are far under 20). The band-9 twin pairs straddle the
    // %7 split six times at N=400, so the cold sets are NON-EMPTY — the
    // invariance check compares real pairs, not two empty sets.
    val coldOpen = open.filterNot(p => isHotDoc(p._1) && isHotDoc(p._2))
    val coldCapped = capped.filterNot(p => isHotDoc(p._1) && isHotDoc(p._2))
    assert(coldOpen.nonEmpty,
      "fixture must supply cross-slice cold near-dup pairs (twin bands)")
    assert(coldOpen == coldCapped, "cold pairs must be unaffected by the cap")
  }

  test("embedding block policies: drop loses exactly the hot block, subblock keeps part of it, cold blocks identical") {
    def pairs(cap: Int, policy: String) =
      Dedup.embeddingNearDups(emb, "label", 0.9, cap, policy)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val open = pairs(Int.MaxValue, "drop")
    val drop = pairs(100, "drop")
    val sub = pairs(100, "subblock")
    assert(drop.subsetOf(open) && sub.subsetOf(open))
    // hot block (label 0, 192 members > 100): drop removes ALL its pairs
    assert(!drop.exists(p => isHotVec(p._1) || isHotVec(p._2)))
    // sub-block keeps a real fraction of them (expected ~1/2 at 2 blocks)
    val hotOpen = open.count(p => isHotVec(p._1) && isHotVec(p._2))
    val hotSub = sub.count(p => isHotVec(p._1) && isHotVec(p._2))
    assert(hotSub > 0, "subblock must retain hot-cluster coverage")
    assert(hotSub < hotOpen, "subblock is partial recall, not the open set")
    assert(hotSub > hotOpen / 4, s"2 sub-blocks should keep ~half, got $hotSub/$hotOpen")
    // both policies leave cold blocks bit-identical to the open run
    def cold(s: Set[(Long, Long)]) = s.filterNot(p => isHotVec(p._1) || isHotVec(p._2))
    assert(cold(drop) == cold(open) && cold(sub) == cold(open))
  }

  test("the text-side caps are observable too (no-silent-caps: band cap, posting cap)") {
    // band cap: with a cap below the hot cluster's bucket sizes, the
    // aggregation pass must report dropped memberships and buckets
    val cands = Dedup.minhashCandidates(
      Dedup.shingleIndex(docs, "doc_id", "text", 3), maxBucketSize = 50)
    cands.collect() // observedMetrics live on THIS plan's execution
    val band = cands.queryExecution.observedMetrics
      .collect { case (n, r) if n.startsWith("graft.lshBandCap.") => r }
    assert(band.nonEmpty, "band-cap stage must emit an observe metric")
    assert(band.map(_.getAs[Long]("dropped_buckets")).sum > 0,
      "hot-cluster buckets must be reported dropped")
    assert(band.map(_.getAs[Long]("dropped_rows")).sum > 50,
      "dropped memberships must exceed the cap itself")
    // posting cap: the capped history side reports uncompared postings
    val shNew = Dedup.shingleIndex(
      docs.filter($"doc_id" % 7 === 0), "doc_id", "text", 3)
    val shOld = Dedup.shingleIndex(
      docs.filter($"doc_id" % 7 =!= 0), "doc_id", "text", 3)
    val between = Dedup.jaccardBetween(shNew, shOld, 0.6, maxPostings = 20)
    between.collect()
    val post = between.queryExecution.observedMetrics
      .collect { case (n, r) if n.startsWith("graft.postingCap.") => r }
    assert(post.nonEmpty, "posting-cap stage must emit an observe metric")
    assert(post.map(_.getAs[Long]("dropped_postings")).sum > 0,
      "hot shingles' over-cap postings must be reported")
  }

  test("AQE total-collapse caveat: an all-dropped result loses its observe metric (pinned)") {
    // the default 8 hashes in 4 bands put the 160-doc giant cluster into
    // buckets far above 50 (its open run pairs all 160·159/2 members) and
    // leave no other bucket with two members, so a cap of 50 drops
    // EVERYTHING → 0 rows. AQE's empty-relation propagation then removes
    // the (already-executed) CollectMetrics stage from the final plan — the
    // metric is lost even though the drop happened. If a Spark upgrade
    // starts preserving it, this test flips and the scaladoc caveat can be
    // retired.
    // Hot band only: the band-9 cold twins form size-2 buckets that
    // survive any cap, which would defeat the all-dropped premise here.
    val hotIndex = Dedup.shingleIndex(docs.filter($"doc_id" % 10 < 4), "doc_id", "text", 3)
    val all = Dedup.minhashCandidates(hotIndex, maxBucketSize = 50)
    assert(all.collect().isEmpty, "the cap must swallow the whole result here")
    assert(all.queryExecution.observedMetrics.isEmpty,
      "AQE empty-propagation currently discards the collapsed stage's metric")
    // with AQE off the same query reports the drops — proving the loss is
    // plan-collapse, not the cap instrumentation
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val noAqe = Dedup.minhashCandidates(hotIndex, maxBucketSize = 50)
      assert(noAqe.collect().isEmpty)
      val m = noAqe.queryExecution.observedMetrics
        .collect { case (n, r) if n.startsWith("graft.lshBandCap.") => r }
      assert(m.nonEmpty && m.map(_.getAs[Long]("dropped_buckets")).sum > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cap firings on the fixture are observable through the session listener") {
    val listener = CapMetricsListener.register(spark)
    try {
      listener.reset()
      Dedup.embeddingNearDups(emb, "label", 0.9, 100, "drop").count()
      Dedup.embeddingNearDups(emb, "label", 0.9, 100, "subblock").count()
      // listener bus is async — poll briefly for delivery
      def totals() = listener.snapshot
      val deadline = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline &&
             (totals().getOrElse("graft.capBuckets.__block:dropped_rows", 0L) == 0L ||
              totals().getOrElse("graft.subBlock.__block:subblocked_rows", 0L) == 0L)) {
        Thread.sleep(50)
      }
      val t = totals()
      // label block 0 = 192 hot vectors + seed vector 0
      assert(t.getOrElse("graft.capBuckets.__block:dropped_rows", 0L) == 193L,
        s"hot block rows must be reported dropped, got $t")
      assert(t.getOrElse("graft.capBuckets.__block:dropped_buckets", 0L) == 1L)
      assert(t.getOrElse("graft.subBlock.__block:subblocked_rows", 0L) == 193L)
      assert(t.getOrElse("graft.subBlock.__block:subblocked_buckets", 0L) == 1L)
    } finally spark.listenerManager.unregister(listener)
  }
}
