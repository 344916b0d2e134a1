package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Skew}
import graft.streaming.StreamingDedup
import graft.tools.SkewedCorpus

/** The BenchSkew invariants as a regression GATE at CI size: BenchSkew
  * measures that the caps keep runtime linear on the skewed corpus, but a
  * refactor that silently UN-CAPS a path would still "pass" a measurement
  * (just slower). This spec pins the structural facts the measurement
  * rests on — capped ⊆ open with NONZERO observable drops, salted forms
  * bit-equal to their plain twins, the admission store partition-bounded
  * under its compaction cadence — and demonstrates the detector actually
  * detects: the same check run against a simulated un-capped mutation
  * (cap = MaxValue) must flag it.
  */
class BenchSkewSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = SkewedCorpus.documents(spark, 400).cache()

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  /** The gate: run a capped candidate query, return (pairs, drops
    * reported). A healthy cap on this corpus yields nonzero drops.
    */
  private def cappedRun(cap: Int): (Set[(Long, Long)], Long) = {
    val df = Dedup.minhashCandidates(Dedup.shingleIndex(docs, "doc_id", "text", 3),
      maxBucketSize = cap)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val drops = df.queryExecution.observedMetrics.collect {
      case (n, r) if n.startsWith("graft.lshBandCap.") => r.getAs[Long]("dropped_rows")
    }.sum
    (pairs, drops)
  }

  test("gate: capped candidates are a strict observable subset of open on the skew corpus") {
    val (capped, drops) = cappedRun(50)
    val (open, openDrops) = cappedRun(Int.MaxValue)
    assert(capped.subsetOf(open), "a cap may only remove pairs, never invent")
    assert(capped.size < open.size, "the hot cluster must cost the capped form pairs")
    assert(drops > 50L, "the cap must REPORT the hot-bucket drops (no-silent-caps)")
    // mutation check: the same detector against an un-capped run flags it —
    // zero drops and no missing pairs means the cap is not in the path
    assert(openDrops == 0L && capped.size < open.size,
      "detector must distinguish a capped run from the simulated mutation")
  }

  test("gate: containment guard fires on the skew corpus, drops ⊇ exact, maximal survives") {
    val sh = Dedup.shingleIndex(docs, "doc_id", "text", 3)
      .transform(graft.operators.Stage.snapshotDF)
    // Predicted candidate volume scales with cluster², so the CI-size
    // fixture (160-doc cluster → ~240k predicted) needs a fixture-scaled
    // budget to trip; production hotDfCap stays. BenchSkew at full fixture
    // size (2000-doc cluster → ~40M predicted) trips the true 1e6 default.
    val guardedDf = Dedup.containmentDropsGuarded(sh, 0.8,
      pairBudget = 100000L, hotDfCap = 64)
    val guarded = guardedDf.collect().map(_.getLong(0)).toSet
    val fired = guardedDf.queryExecution.observedMetrics.exists {
      case (n, _) => n.startsWith("graft.containGuard.")
    }
    assert(fired, "skew corpus must push the guard over budget (else the fixture proves nothing)")
    val exact = Dedup.containmentDrops(sh, 0.8).as[Long].collect().toSet
    assert(exact.nonEmpty && exact.subsetOf(guarded),
      s"guarded must never admit an exact-rejected doc; missing ${exact -- guarded}")
    // container-order maximal doc of the corpus can never drop
    val maximal = sh.groupBy("__id").agg(max("sz").as("sz"))
      .orderBy(col("sz").desc, col("__id")).head().getLong(0)
    assert(!guarded.contains(maximal), s"maximal doc $maximal must survive")
  }

  test("gate: salted aggregation and join are bit-equal to their plain twins under skew") {
    val salted = Skew.saltedAggregate(docs.select("source", "n_chars"), Seq("source"),
      sum("n_chars").as("partial"), sum("partial").as("total_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = docs.groupBy("source").agg(sum("n_chars").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain, "salting must not change aggregation results")

    val dim = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumnRenamed("source", "__s")
    val saltedJoin = Skew.saltedJoin(
      docs.select("doc_id", "source", "n_chars"), dim, "source", "__s").count()
    val plainJoin = docs.select("doc_id", "source", "n_chars")
      .join(dim, col("source") === col("__s")).count()
    assert(saltedJoin == plainJoin, "salting must not change join cardinality")
  }

  test("gate: admission store stays partition-bounded under the compaction cadence") {
    val store = java.nio.file.Files
      .createTempDirectory("benchskew-adm").toString + "/store"
    val nBatches = 6
    (0 until nBatches).foreach { i =>
      if (i > 0 && i % 2 == 0)
        graft.sources.Sinks.compactBatchStore(spark, store, upToBatch = i.toLong)
      StreamingDedup.admitBatch(spark,
        docs.filter($"doc_id" % nBatches === i).select($"doc_id", $"text"),
        "doc_id", "text", store, batchId = i.toLong).count()
    }
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .count(e => e.isDirectory && e.getPath.getName.startsWith("batch="))
    // cadence 2 leaves: the compacted partition + at most 2 uncompacted
    assert(parts <= 3, s"compaction cadence must bound partition count, got $parts")
    // the store still holds every admitted doc's postings exactly once
    val stored = graft.sources.Sinks.readBatchStore(spark, store).get
    assert(stored.count() == stored.distinct().count(),
      "append + compaction must never duplicate a posting row")
  }
}
