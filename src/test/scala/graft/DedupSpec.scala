package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSuite {

  test("connectedComponents: chain needs multi-round propagation; components split correctly") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4, forces several hash-min rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 10)
  }

  test("connectedComponents: pointer jumping compresses a 30-chain under a 12-round cap (plain hash-min needs ~30)") {
    import spark.implicits._
    // path graph 1-2-...-31: diameter 30, so diameter-rounds hash-min
    // cannot converge inside 12 rounds — only the round-4+ label-of-label
    // compression can; converging here is the witness that the jump fires
    val chain = (1L to 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup
      .connectedComponents(chain, "id_a", "id_b", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 31 && got.values.forall(_ == 1L), s"$got")
  }

  test("connectedComponents: frontier re-activation — a node quiet in one round changes again when a neighbor changes later (r19 frontier-restricted rounds)") {
    import spark.implicits._
    // chain 2-12-11-10-1: node 12 changes in round 1 (label ← 2 via the
    // direct edge), is then absent from the frontier only if nothing else
    // reaches it — but 1's label walks down 10→11 and must re-enter 12's
    // neighborhood in a later round THROUGH the frontier (11 changed), or
    // the restricted join would freeze 12 at label 2 and split the chain
    val edges = Seq((2L, 12L), (11L, 12L), (10L, 11L), (1L, 10L)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 5 && got.values.forall(_ == 1L), s"$got")
  }

  test("connectedComponents: empty pair list converges via the null observe sum (r18 one-job-per-round loop)") {
    import spark.implicits._
    // zero pairs ⇒ zero labels ⇒ the round's observed sum aggregates no
    // rows and returns null — the loop must read that as converged (0)
    // rather than NPE or spin to the round cap
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(empty, "id_a", "id_b")
    assert(got.count() == 0L)
    assert(got.columns.toSeq == Seq("node", "component"))
  }
  import spark.implicits._

  test("sortedNeighborhoodPairs: adjacency-visible dups found, prefix-divergent dups missed") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zets"),  // last-token edit: sort-adjacent
      (3L, "omega beta gamma delta epsilon zeta"),  // first-token edit: other block
      (4L, "completely unrelated text about fish"),
      (5L, "alpha beta gamma delta epsilon zeta extra")) // shares prefix, adjacent
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 3, shingleK = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"adjacent near-dup must be found: $pairs")
    assert(pairs.contains((1L, 5L)), s"shared-prefix near-dup must be found: $pairs")
    // doc 3 is a true near-dup of 1 (J >= 0.5 on 3-shingles) but its first
    // character lands it in another block — the documented SNM miss
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"prefix-divergent dup is invisible to SNM by design: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("sortedNeighborhoodPairs ⊆ exact pair graph at the same threshold, on the planted corpus") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val snm = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text", 4, 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snm.nonEmpty, "planted mutations are sort-adjacent — SNM must find some")
    assert(snm.subsetOf(exact), s"SNM pairs must verify at the exact contract: ${snm -- exact}")
  }

  // sf0.1 documents contain real near-dups; sf0.001 may not, so build a
  // corpus with known duplicates: the test-table docs plus planted mutations.
  lazy val corpus = {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val planted = base.filter($"doc_id" < 5)
      .select(($"doc_id" + 100000L).as("doc_id"),
        // near-dup: append two tokens (high Jaccard), exact-dup for doc 0
        when($"doc_id" === 0, $"text").otherwise(concat($"text", lit(" extra token"))).as("text"))
    base.unionByName(planted)
  }

  test("exactDedup keeps the lowest id per duplicate text (D1, utils.py:16-19)") {
    val df = Seq((10L, "same"), (3L, "same"), (5L, "other")).toDF("id", "text")
    val kept = Dedup.exactDedup(df, "text", "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 5L))
  }

  test("exactDedup: null keys form one group and keep a survivor (not dropped)") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "x")).toDF("id", "text")
    val kept = Dedup.exactDedup(df, "text", "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("jaccard finds planted near-dups with J >= 0.8") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", shingleK = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i, i + 100000L)), s"missing planted pair $i")
    }
  }

  test("minhash LSH candidates cover all true J>=0.9 pairs (no false negatives at high sim)") {
    val truth = Dedup.jaccardPairs(corpus, "doc_id", "text", shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("deterministic minhash LSH also covers all true J>=0.9 pairs") {
    val truth = Dedup.jaccardPairs(corpus, "doc_id", "text", shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidatesDeterministic(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"deterministic LSH missed high-similarity pairs: $missed")
  }

  test("finalized minhash LSH (the declared q43 form) also covers all true J>=0.9 pairs and prunes") {
    val truth = Dedup.jaccardPairs(corpus, "doc_id", "text", shingleK = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val cand = Dedup.minhashCandidatesFinalized(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"finalized LSH missed high-similarity pairs: $missed")
    val n = corpus.count()
    assert(cand.size < n * (n - 1) / 4, s"candidates ${cand.size} ≈ all pairs — LSH not pruning")
  }

  test("minhash LSH candidate set is not the all-pairs set (it actually prunes)") {
    val n = corpus.count()
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text").count()
    assert(cand < n * (n - 1) / 4, s"candidates $cand ≈ all pairs — LSH not pruning")
  }

  test("jaccardVerify on LSH candidates: sound (⊆ exact, identical scores) and " +
      "complete at J>=0.9 (the scale path loses nothing it promises to keep)") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", shingleK = 3, threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cands = Dedup.minhashCandidatesDeterministic(corpus, "doc_id", "text")
    val verified = Dedup.jaccardVerify(cands, corpus, "doc_id", "text",
        shingleK = 3, threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    verified.foreach { case (k, j) =>
      assert(exact.get(k).contains(j), s"verify emitted non-exact pair $k -> $j")
    }
    val missed = exact.filter(_._2 >= 0.9).keySet -- verified.keySet
    assert(missed.isEmpty, s"candidate-verify missed high-sim pairs: $missed")
  }

  test("prefix-filtered Jaccard is EXACTLY the unfiltered result (no pair lost " +
      "to the prefix index, none gained)") {
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = triples(Dedup.jaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.6))
    val prefixed = triples(Dedup.jaccardPairsPrefix(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.6))
    assert(exact.nonEmpty)
    assert(prefixed == exact,
      s"missing=${exact -- prefixed}  extra=${prefixed -- exact}")
    // t=0.55 is a float-hazard threshold: sz·0.55 in double can land just
    // above the integer the true rational equals (sz=100 → 55.000000000000001),
    // which without the ceil slack cuts the prefix one short
    val exact55 = triples(Dedup.jaccardPairs(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.55))
    val prefixed55 = triples(Dedup.jaccardPairsPrefix(corpus, "doc_id", "text",
      shingleK = 3, threshold = 0.55))
    assert(prefixed55 == exact55,
      s"t=0.55: missing=${exact55 -- prefixed55}  extra=${prefixed55 -- exact55}")
  }

  test("LSH-blocked embedding near-dups == all-pairs result restricted to shared buckets") {
    val emb = Tables.embeddings(spark, sfDir)
    val blocked = Dedup.embeddingNearDupsLsh(emb, numPlanes = 8, dim = 64, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the one-bucket brute-force reference needs the skew cap lifted —
    // its single block deliberately holds the whole corpus
    val allPairs = Dedup.embeddingNearDups(
        emb.withColumn("__one", lit(1)), "__one", threshold = 0.35,
        maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucket = graft.operators.Similarity.lshBucketsDeterministic(emb, 8, 64)
      .select(col("vec_id"), col("lsh_bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = allPairs.filter { case (a, b, _) => bucket(a) == bucket(b) }
    assert(allPairs.nonEmpty)
    assert(blocked == expected,
      s"missing=${expected -- blocked}  extra=${blocked -- expected}")
  }

  test("multi-probe LSH near-dups == all-pairs restricted to bucket-hamming <= 2 " +
      "(superset of exact-bucket q91)") {
    val emb = Tables.embeddings(spark, sfDir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val multi = pairSet(Dedup.embeddingNearDupsMultiProbe(emb, 8, 64, 0.35))
    val single = pairSet(Dedup.embeddingNearDupsLsh(emb, 8, 64, 0.35))
    val allPairs = pairSet(Dedup.embeddingNearDups(
      emb.withColumn("__one", lit(1)), "__one", 0.35, maxBucketSize = Int.MaxValue))
    val bucket = graft.operators.Similarity.lshBucketsDeterministic(emb, 8, 64)
      .select(col("vec_id"), col("lsh_bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = allPairs.filter { case (a, b, _) =>
      java.lang.Long.bitCount(bucket(a) ^ bucket(b)) <= 2
    }
    assert(multi == expected,
      s"missing=${expected -- multi}  extra=${multi -- expected}")
    assert(single.subsetOf(multi), "multi-probe must cover the exact-bucket result")
  }

  test("simhash: identical texts get identical fingerprints; near-dups within hamming 3") {
    val fp = Dedup.simhash(corpus, "doc_id", "text")
    val exactPair = fp.as("a").join(fp.as("b"),
        $"a.doc_id" === 0L && $"b.doc_id" === 100000L)
      .select($"a.simhash" === $"b.simhash").as[Boolean].head()
    assert(exactPair, "exact dup must have equal simhash")
    val nd = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 100000L)))
  }

  test("finalized simhash (the declared q44 form): exact dup at hamming 0, near-dup found, pairs canonical") {
    val nd = Dedup.simhashNearDupsFinalized(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val byPair = nd.toMap
    // doc 0's planted copy is text-identical -> identical fingerprint
    assert(byPair.get((0L, 100000L)).contains(0L),
      s"exact dup must pair at hamming 0, got ${byPair.get((0L, 100000L))}")
    assert(nd.forall { case ((a, b), h) => a < b && h <= 3 })
  }

  test("embedding near-dups are symmetric-free (id_a < id_b) and above threshold") {
    val nd = Dedup.embeddingNearDups(Tables.embeddings(spark, sfDir), "label", 0.3)
    val rows = nd.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.3))
  }

  test("embedding near-dup bucket cap bounds a synthetic hot bucket " +
      "(all three variants); selective buckets are untouched") {
    // hot bucket: 10 identical vectors (cosine 1.0 pairwise) under one
    // label; cold bucket: 3 identical vectors under another. Cap = 5 must
    // drop every hot-bucket pair (45 of them) and keep the cold bucket's 3.
    val vec = Array.fill(4)(1.0f)
    val rows = (0 until 10).map(i => (i.toLong, "hot", vec)) ++
      (100 until 103).map(i => (i.toLong, "cold", vec))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val capped = Dedup.embeddingNearDups(emb, "label", 0.9, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L), (100L, 102L), (101L, 102L)),
      s"cap must drop the hot bucket entirely, keep the cold one: $capped")
    // LSH + multi-probe: identical vectors share a bucket code, so a cap
    // below 13 (10 hot + 3 cold collide into ONE bucket — same vector ⇒
    // same code) zeroes the output; a cap at/above 13 restores all 78 pairs.
    val lshCapped = Dedup.embeddingNearDupsLsh(
      emb.select($"vec_id", $"embedding"), 8, 4, 0.9, maxBucketSize = 5)
    assert(lshCapped.count() == 0L, "oversized LSH bucket must be dropped")
    val lshOpen = Dedup.embeddingNearDupsLsh(
      emb.select($"vec_id", $"embedding"), 8, 4, 0.9, maxBucketSize = 13)
    assert(lshOpen.count() == 78L)
    val mpCapped = Dedup.embeddingNearDupsMultiProbe(
      emb.select($"vec_id", $"embedding"), 8, 4, 0.9, maxBucketSize = 5)
    assert(mpCapped.count() == 0L, "oversized probe groups must be dropped")
    // symmetric open-cap check for multi-probe: a loose cap must RESTORE
    // the pairs, not over-drop (identical vectors ⇒ identical probe sets ⇒
    // every probe-key group holds all 13 vectors)
    val mpOpen = Dedup.embeddingNearDupsMultiProbe(
      emb.select($"vec_id", $"embedding"), 8, 4, 0.9, maxBucketSize = 13)
    assert(mpOpen.count() == 78L)
  }

  test("oversized=subblock keeps partial recall on a hot bucket instead of dropping it") {
    val vec = Array.fill(4)(1.0f)
    val rows = (0 until 10).map(i => (i.toLong, "hot", vec)) ++
      (100 until 103).map(i => (i.toLong, "cold", vec))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val full = Dedup.embeddingNearDups(emb, "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size == 48, "45 hot + 3 cold pairs uncapped")
    val sub = Dedup.embeddingNearDups(emb, "label", 0.9, maxBucketSize = 5,
        oversized = "subblock")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sound: only true pairs, cold bucket (under cap) fully intact,
    // hot bucket partially recalled (vs fully dropped under "drop")
    assert(sub.subsetOf(full))
    assert(Set((100L, 101L), (100L, 102L), (101L, 102L)).subsetOf(sub))
    val hotPairs = sub.count(_._1 < 100L)
    assert(hotPairs > 0, "sub-blocking must keep SOME hot-bucket pairs")
    assert(hotPairs < 45, "sub-blocking must bound hot-bucket work below full expansion")
    // unknown policy fails loudly
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingNearDups(emb, "label", 0.9, 5, oversized = "explode"))
    assert(e.getMessage.contains("subblock"))
  }

  test("leakage-safe split: verified near-dup pairs never straddle splits") {
    // same pipeline as q96: cluster-hashed assignment means both members of
    // every verified pair land in one split BY CONSTRUCTION — this guards
    // the construction (e.g. against regressing to a per-doc hash)
    val sh = Dedup.shingleIndex(corpus, "doc_id", "text", 3).localCheckpoint()
    val pairs = Dedup.jaccardVerify(
      Dedup.minhashCandidatesDeterministicFrom(sh), sh, threshold = 0.6)
    assert(pairs.count() > 0, "planted corpus must contain near-dups")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val h = graft.functions.StringFunctions.polyHash($"component".cast("string")) % 10
    val assigned = corpus.join(comp, corpus("doc_id") === comp("node"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("component"))
      .withColumn("split", when(h < 8, "train").when(h === 8, "val").otherwise("test"))
      .select("doc_id", "split")
    val straddling = pairs
      .join(assigned.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "split_a"), Seq("id_a"))
      .join(assigned.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "split_b"), Seq("id_b"))
      .filter($"split_a" =!= $"split_b")
    assert(straddling.count() == 0L, "a near-dup pair crossed a split boundary")
    // and all three splits exist over the full corpus (hash actually varies)
    assert(assigned.select("split").distinct().count() == 3L)
  }

  test("semanticDedup: assignment and survivors match an independent brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = graft.operators.Similarity.centroids(emb, 16)
    val out = Dedup.semanticDedup(emb, cents, threshold = 0.35)
      .select("vec_id", "centroid_id", "is_dup")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

    // independent oracle: collected vectors, driver-side loops — same
    // sequential left-to-right double accumulation as the fused kernel
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // argmax with the operator's tie-break (higher sim, then lower cid)
    def assign(v: Array[Double]): Long =
      cents.map { case (cid, cv) => (cos(v, cv.toArray), cid) }
        .maxBy { case (s, cid) => (s, -cid) }._2
    val cellOf = vecs.map { case (id, v) => id -> assign(v) }
    val expectDup = vecs.keySet.map { id =>
      id -> vecs.keySet.exists(o =>
        o < id && cellOf(o) == cellOf(id) && cos(vecs(o), vecs(id)) >= 0.35)
    }.toMap

    assert(out.keySet == vecs.keySet, "every vector classified exactly once")
    assert(expectDup.values.exists(identity), "test is non-vacuous: dups exist")
    out.foreach { case (id, (cid, isDup)) =>
      assert(cid == cellOf(id), s"vec $id assigned to $cid, expected ${cellOf(id)}")
      assert(isDup == expectDup(id), s"vec $id is_dup=$isDup, expected ${expectDup(id)}")
    }
    // greedy-min survivor rule ⇒ each nonempty cell keeps its minimum id
    cellOf.groupBy(_._2).values.foreach { cell =>
      assert(!out(cell.keys.min)._2, "cell minimum must survive")
    }
  }

  test("candidateRecallAudit computes exact recall/precision on known sets") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (9L, 10L)).toDF("id_a", "id_b")
    val row = Dedup.candidateRecallAudit(exact, cand).collect().head
    assert(row.getLong(0) == 4L && row.getLong(1) == 3L && row.getLong(2) == 2L)
    assert(row.getDouble(3) == 0.5, s"recall: $row")      // 2 of 4 exact found
    assert(row.getDouble(4) == 0.6667, s"precision: $row") // 2 of 3 candidates real
  }

  test("q111 audit agrees with the set arithmetic of its two sides on the same slice") {
    import org.apache.spark.sql.functions.col
    // the audit's slice (doc_id % 3 = 0) changes df stats and bucket fill,
    // so ground truth must be built from the SAME sliced index — the two
    // sides are independently oracle-proven (q90/q84); this pins the
    // composition and the count/ratio wiring
    val sh = Dedup.shingleIndex(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 0),
      "doc_id", "text", 3).transform(graft.operators.Stage.snapshotDF)
    val exact = Dedup.jaccardPairsPrefixFrom(sh, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidatesDeterministicFrom(sh)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = SparkEntry.queries("q111_lsh_recall_audit")(spark, sfDir).collect().head
    assert(row.getLong(0) == exact.size.toLong, s"n_exact: $row vs ${exact.size}")
    assert(row.getLong(1) == cand.size.toLong, s"n_cand: $row vs ${cand.size}")
    assert(row.getLong(2) == (exact intersect cand).size.toLong, s"n_hit: $row")
  }

  // Hand corpus for the containment-subsumption family: doc 1 (10 tokens)
  // sits entirely inside doc 2 (20 tokens, same leading text) → C(1→2)=1.0;
  // doc 4 duplicates doc 2's text (equal size, higher id — the mutual-
  // containment tie the container order must break toward the lower id);
  // doc 3 shares nothing. Exact drops = {1, 4}; survivors = {2, 3}; doc 2
  // is the corpus-wide container-order maximal document.
  private lazy val containCorpus = Seq(
    (1L, "a b c d e f g h i j"),
    (2L, "a b c d e f g h i j k l m n o p q r s t"),
    (3L, "x y z w v u t2 s2 r2 q2 p2 o2 n2 m2"),
    (4L, "a b c d e f g h i j k l m n o p q r s t"))
    .toDF("doc_id", "text")

  private def containSh =
    Dedup.shingleIndex(containCorpus, "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)

  test("containmentDrops: contained doc and tied duplicate drop; maximal + unrelated survive") {
    val drops = Dedup.containmentDrops(containSh, 0.8)
      .as[Long].collect().sorted.toSeq
    assert(drops == Seq(1L, 4L), s"exact drops: $drops")
  }

  test("containmentDropsGuarded under budget is bit-identical to the exact path") {
    val exact = Dedup.containmentDrops(containSh, 0.8).as[Long].collect().sorted.toSeq
    val silent = Dedup.containmentDropsGuarded(containSh, 0.8,
        pairBudget = 1000000L, hotDfCap = 64)
      .as[Long].collect().sorted.toSeq
    assert(silent == exact, s"under-budget guarded $silent vs exact $exact")
  }

  test("containmentDropsGuarded forced: drops ⊇ exact, maximal doc survives, guard observable") {
    val exact = Dedup.containmentDrops(containSh, 0.8).as[Long].collect().toSet
    val guardedDf = Dedup.containmentDropsGuarded(containSh, 0.8,
      pairBudget = 1L, hotDfCap = 2)
    // collect the DataFrame itself: observe metrics land only on the
    // executed QueryExecution (.as[Long] would wrap a fresh one)
    val guarded = guardedDf.collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(guarded),
      s"guarded admission must never admit a doc exact would reject: $guarded vs $exact")
    // doc 2 is the container-order maximum of every hot shingle → can't drop
    assert(!guarded.contains(2L), "corpus-maximal doc must survive guarded mode")
    assert(guarded.contains(1L) && guarded.contains(4L))
    // the hot path's over-drop accounting is on the observability channel
    val metrics = guardedDf.queryExecution.observedMetrics
      .collect { case (name, row) if name.startsWith("graft.containGuard.") => row }
    assert(metrics.nonEmpty, "forced guard must emit the containGuard observe metric")
  }

  test("containmentDropsGuarded forced ⊇ exact on the sf corpus (non-hand-picked skew)") {
    val sh = Dedup.shingleIndex(corpus, "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    val exact = Dedup.containmentDrops(sh, 0.8).as[Long].collect().toSet
    val forced = Dedup.containmentDropsGuarded(sh, 0.8, pairBudget = 1L, hotDfCap = 2)
      .as[Long].collect().toSet
    assert(exact.nonEmpty, "fixture must exercise a non-empty exact drop set")
    assert(exact.subsetOf(forced), s"missing: ${exact -- forced}")
  }

  test("a firing bucket cap is observable (dropped_rows/dropped_buckets metric)") {
    val vec = Array.fill(4)(1.0f)
    val rows = (0 until 10).map(i => (i.toLong, "hot", vec)) ++
      (100 until 103).map(i => (i.toLong, "cold", vec))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val capped = Dedup.embeddingNearDups(emb, "label", 0.9, maxBucketSize = 5)
    capped.collect()
    val metrics = capped.queryExecution.observedMetrics
      .collect { case (name, row) if name.startsWith("graft.capBuckets.") => row }
    assert(metrics.nonEmpty, "cap stage must emit an observe metric")
    val m = metrics.head
    assert(m.getAs[Long]("dropped_rows") == 10L, s"hot bucket rows: $m")
    assert(m.getAs[Long]("dropped_buckets") == 1L, s"hot bucket count: $m")
  }

  test("incrementalComponents: merge ≡ full recompute; untouched and singleton labels survive") {
    import spark.implicits._
    // old graph: {1,2,3} (via 1-2, 2-3) and {7,8}; 9 is a label singleton
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L))
      .toDF("node", "component")
    // batch: bridges 3-7 (merges two components), introduces 10-11
    val batch = Seq((3L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.incrementalComponents(labels, batch, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 8L -> 1L,
      9L -> 9L, 10L -> 10L, 11L -> 10L)
    assert(got == want, s"got $got")
    // ≡ full recompute over (old edges ∪ batch): same labels for every
    // pair-connected node; 9 is the one node only the labels remember
    val full = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (7L, 8L), (3L, 7L), (10L, 11L)).toDF("id_a", "id_b"),
      "id_a", "id_b").as[(Long, Long)].collect().toMap
    assert(got - 9L == full, s"incremental ${got - 9L} vs full $full")
  }

  test("componentSnapshot store: delta-sized writes, versioned reads, growth ≡ full recompute") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (7L, 70L), (8L, 80L),
      (10L, 100L), (11L, 110L)).toDF("doc_id", "n_chars")
    val oldPairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val newPairs = Seq((3L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val path = java.nio.file.Files.createTempDirectory("graft_snap_spec").toString
    val v0 = Dedup.componentSnapshot(oldPairs, docs)
    Dedup.writeComponentSnapshot(spark, Dedup.snapshotDelta(None, v0), path, 0L)
    // version-0 read reconstructs v0 exactly
    val r0df = Dedup.readComponentSnapshot(spark, path, 0L).get
    val r0 = r0df.as[(Long, Long, Long)].collect().toSet
    assert(r0 == v0.as[(Long, Long, Long)].collect().toSet)
    // grow: bridge 3-7 merges {1,2,3} with {7,8}; 10-11 is brand new
    val v1 = Dedup.updateComponentSnapshot(r0df, newPairs, docs)
    val delta = Dedup.snapshotDelta(Some(r0df), v1)
    // the delta is ONLY the changed/new memberships: 7,8 relabel to 1;
    // 10,11 appear — 1,2,3 (unchanged) must NOT be rewritten
    val deltaRows = delta.as[(Long, Long, Long)].collect().toSet
    assert(deltaRows.map(_._2) == Set(7L, 8L, 10L, 11L), s"delta: $deltaRows")
    Dedup.writeComponentSnapshot(spark, delta, path, 1L)
    // version-1 read = last-writer-wins reconstruction ≡ full recompute
    val r1 = Dedup.readComponentSnapshot(spark, path, 1L).get
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.componentSnapshot(
      oldPairs.unionByName(newPairs), docs).as[(Long, Long, Long)].collect().toSet
    assert(r1 == full, s"reconstructed $r1 vs full $full")
    // time travel: version 0 is still exactly v0 after the growth write
    val r0again = Dedup.readComponentSnapshot(spark, path, 0L).get
      .as[(Long, Long, Long)].collect().toSet
    assert(r0again == r0)
    // compaction safety: reconstruction keys on the row-resident
    // snap_batch column, so merging partitions must not change the
    // current snapshot (batch 0's rows still lose LWW to batch 1's)
    Dedup.writeComponentSnapshot(spark,
      Dedup.snapshotDelta(Some(Dedup.readComponentSnapshot(spark, path).get),
        Dedup.componentSnapshot(oldPairs.unionByName(newPairs), docs)),
      path, 2L)
    assert(graft.sources.Sinks.compactBatchStore(spark, path, upToBatch = 2L) > 0,
      "compaction must merge the two finalized partitions")
    val rc = Dedup.readComponentSnapshot(spark, path).get
      .as[(Long, Long, Long)].collect().toSet
    assert(rc == full, s"post-compaction reconstruction drifted: $rc vs $full")
  }

  test("readComponentSnapshot skips torn (uncommitted) partitions — falls back to the prior version") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (7L, 70L)).toDF("doc_id", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("graft_torn_spec").toString
    val v0 = Dedup.componentSnapshot(Seq((1L, 2L)).toDF("id_a", "id_b"), docs)
    Dedup.writeComponentSnapshot(spark, v0, path, 0L)
    val committed = Dedup.readComponentSnapshot(spark, path).get
      .as[(Long, Long, Long)].collect().toSet
    // simulate a crash mid-write of batch 1: parquet data present, no
    // commit marker (neither graft's nor the job committer's) — the
    // classic torn-delta window
    val torn = Dedup.componentSnapshot(
      Seq((1L, 2L), (2L, 7L)).toDF("id_a", "id_b"), docs)
    Dedup.writeComponentSnapshot(spark, torn, path, 1L)
    val marker = new java.io.File(s"$path/batch=1/_graft_committed")
    assert(marker.exists, "fixture expects the graft commit marker")
    assert(marker.delete())
    val jobMarker = new java.io.File(s"$path/batch=1/_SUCCESS")
    assert(jobMarker.exists, "fixture expects Spark to write the job marker")
    assert(jobMarker.delete())
    // the LWW reader must NOT apply the half-committed delta
    val seen = Dedup.readComponentSnapshot(spark, path).get
      .as[(Long, Long, Long)].collect().toSet
    assert(seen == committed, s"torn partition leaked into the read: $seen")
    // the replay rewrites the partition (marker restored) — now visible
    Dedup.writeComponentSnapshot(spark, torn, path, 1L)
    val healed = Dedup.readComponentSnapshot(spark, path).get
      .as[(Long, Long, Long)].collect().toSet
    assert(healed.map(_._1) == Set(1L), s"healed read must see the merge: $healed")
  }

  test("commit visibility survives a committer that writes no _SUCCESS; a marker-less store throws") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (7L, 70L)).toDF("doc_id", "n_chars")
    val path = java.nio.file.Files.createTempDirectory("graft_marker_spec").toString
    Dedup.writeComponentSnapshot(spark,
      Dedup.componentSnapshot(Seq((1L, 2L)).toDF("id_a", "id_b"), docs), path, 0L)
    val grown = Dedup.updateComponentSnapshot(
      Dedup.readComponentSnapshot(spark, path).get,
      Seq((2L, 7L)).toDF("id_a", "id_b"), docs)
    Dedup.writeComponentSnapshot(spark,
      Dedup.snapshotDelta(Dedup.readComponentSnapshot(spark, path), grown), path, 1L)
    // a cluster with mapreduce.fileoutputcommitter.marksuccessfuljobs=false:
    // strip every _SUCCESS — the graft-owned marker must carry the store
    (0 to 1).foreach { b =>
      val m = new java.io.File(s"$path/batch=$b/_SUCCESS")
      assert(m.exists && m.delete())
    }
    val seen = Dedup.readComponentSnapshot(spark, path).get
      .as[(Long, Long, Long)].collect().toSet
    assert(seen.map(_._1) == Set(1L), s"history dropped without _SUCCESS: $seen")
    // strip the graft markers too: >1 data partitions with no marker
    // anywhere is an uninterpretable store, never "empty" — must throw,
    // not hand a LWW consumer a silent from-scratch rebuild
    (0 to 1).foreach { b =>
      val m = new java.io.File(s"$path/batch=$b/_graft_committed")
      assert(m.exists && m.delete())
    }
    val e = intercept[IllegalStateException] {
      Dedup.readComponentSnapshot(spark, path)
    }
    assert(e.getMessage.contains("commit marker"), e.getMessage)
  }

  test("lone marker-less partition: batch=0 is a tolerable torn first write, id>0 throws") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
    def strip(path: String, b: Long): Unit =
      Seq("_SUCCESS", "_graft_committed").foreach { m =>
        val f = new java.io.File(s"$path/batch=$b/$m")
        assert(f.exists && f.delete(), s"fixture expects $m in batch=$b")
      }
    // lone torn batch=0: the only state a first-ever write's crash can
    // leave — reads as an empty store (the replay rebuilds it)
    val p0 = java.nio.file.Files.createTempDirectory("graft_lone0_spec").toString
    Dedup.writeComponentSnapshot(spark,
      Dedup.componentSnapshot(Seq((1L, 2L)).toDF("id_a", "id_b"), docs), p0, 0L)
    strip(p0, 0L)
    assert(Dedup.readComponentSnapshot(spark, p0).isEmpty)
    // lone marker-less batch=1: its sequential predecessor must have
    // existed (or it is a compacted/pre-marker store on a no-_SUCCESS
    // cluster) — never "empty", must throw
    val p1 = java.nio.file.Files.createTempDirectory("graft_lone1_spec").toString
    Dedup.writeComponentSnapshot(spark,
      Dedup.componentSnapshot(Seq((1L, 2L)).toDF("id_a", "id_b"), docs), p1, 1L)
    strip(p1, 1L)
    val e1 = intercept[IllegalStateException] {
      Dedup.readComponentSnapshot(spark, p1)
    }
    assert(e1.getMessage.contains("commit marker"), e1.getMessage)
  }

  test("componentSnapshot: non-doc endpoints keep their labels; null-size deltas anti-out") {
    import spark.implicits._
    // docs dimension KNOWS only 1 and 5 — node 3 is a pair endpoint
    // outside it (e.g. a doc filtered upstream)
    val docs = Seq((1L, 10L), (5L, 50L)).toDF("doc_id", "n_chars")
    val v0 = Dedup.componentSnapshot(Seq((1L, 3L)).toDF("id_a", "id_b"), docs)
    val rows0 = v0.as[(Long, Long, Option[Long])].collect().toSet
    // node 3 survives with a null size — its LABEL is connectivity state
    assert(rows0 == Set((1L, 1L, Some(10L)), (1L, 3L, None)), s"v0: $rows0")
    // growth bridging THROUGH the non-doc node must merge, exactly as
    // the one-shot recompute over all pairs would
    val v1 = Dedup.updateComponentSnapshot(v0, Seq((3L, 5L)).toDF("id_a", "id_b"), docs)
    val rows1 = v1.as[(Long, Long, Option[Long])].collect().toSet
    val oneShot = Dedup.componentSnapshot(
      Seq((1L, 3L), (3L, 5L)).toDF("id_a", "id_b"), docs)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(rows1 == oneShot, s"grown $rows1 vs one-shot $oneShot")
    assert(rows1.map(_._2) == Set(1L, 3L, 5L) && rows1.map(_._1) == Set(1L))
    // null-safe delta: the unchanged null-size row must NOT re-emit
    val delta = Dedup.snapshotDelta(Some(v1), v1)
    assert(delta.count() == 0, "identical snapshots must produce an empty delta")
  }

  test("chainAudit: open path flagged, triangle fully closed, reversed/dup input pairs collapse") {
    import spark.implicits._
    def audit(ps: Seq[(Long, Long)]) =
      Dedup.chainAudit(ps.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long, Long, Option[Double])].head()
    // 1–2–3 path: wedge (1,3) is open — CC would merge it anyway
    assert(audit(Seq((1L, 2L), (2L, 3L))) == ((2L, 1L, 1L, Some(1.0))))
    // triangle: every wedge closes
    assert(audit(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == ((3L, 3L, 0L, Some(0.0))))
    // duplicates and reversed orientation are ONE edge; no self-wedges
    assert(audit(Seq((1L, 2L), (2L, 1L), (1L, 2L))) == ((1L, 0L, 0L, None)))
  }

  /** The retired collect_list posting form of `jaccardPairs` (swapped
    * out in r18: its `ObjectHashAggregate` reduce was the ×100
    * scale-killer), kept here only as the semantic reference: docs sharing
    * a shingle meet in one posting array and every co-occurrence
    * contributes exactly one pair instance.
    */
  private def jaccardPairsAgg(
      docs: org.apache.spark.sql.DataFrame, shingleK: Int, threshold: Double) = {
    val m = col("members")
    val pairs = flatten(transform(m, (x, i) =>
      transform(slice(m, i + lit(2), size(m)), y => struct(x.as("a"), y.as("b")))))
    Dedup.shingleIndex(docs, "doc_id", "text", shingleK)
      .groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("__id"), col("sz")))).as("members"))
      .filter(size(m) > 1)
      .select(explode_outer(pairs).as("p"))
      .groupBy(col("p.a.__id").as("id_a"), col("p.b.__id").as("id_b"))
      .agg(count(lit(1)).as("c"), max(col("p.a.sz")).as("sz_a"), max(col("p.b.sz")).as("sz_b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  test("jaccardPairs (join form) == jaccardPairsAgg: the physical A/B forms agree row for row") {
    // the r18 swap dodges the ObjectHashAggregate sort fallback
    // (BENCH_NOTES r17 addendum, r18 ×100 A/B); it must be a PURELY
    // physical choice — the retired agg form is the semantic witness
    val docs = graft.Tables.documents(spark, sfDir)
    val agg = jaccardPairsAgg(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val join = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg.nonEmpty, "fixture must produce at least one near-dup pair")
    assert(join == agg, s"forms diverge: only-agg=${agg -- join} only-join=${join -- agg}")
  }

}
