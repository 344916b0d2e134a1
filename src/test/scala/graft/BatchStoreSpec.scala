package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.Sinks

/** The append-only batch-partitioned store under the failure modes it was
  * built for: replay overwrite, compaction cadence, and every crash window
  * of the compaction protocol (the manifest + rename-aside machinery).
  */
class BatchStoreSpec extends SparkSuite {
  import spark.implicits._

  private def mkStore(): String =
    Files.createTempDirectory("batchstore").toString + "/store"

  private def rows(store: String): Set[(Long, String)] =
    Sinks.readBatchStore(spark, store).map(
      _.select("id", "v").as[(Long, String)].collect().toSet).getOrElse(Set.empty)

  private def fsOf(store: String) =
    new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append is O(batch) and replay overwrites only its own partition") {
    val store = mkStore()
    assert(Sinks.readBatchStore(spark, store).isEmpty, "absent store reads as None")
    Sinks.appendBatchPartition(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), store, 0L)
    Sinks.appendBatchPartition(spark, Seq((3L, "c")).toDF("id", "v"), store, 1L)
    assert(rows(store) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // replay of batch 1 with different (corrected) content: only its rows change
    Sinks.appendBatchPartition(spark, Seq((3L, "c2")).toDF("id", "v"), store, 1L)
    assert(rows(store) == Set((1L, "a"), (2L, "b"), (3L, "c2")))
    // an empty batch contributes nothing and does not break later reads
    Sinks.appendBatchPartition(
      spark, Seq.empty[(Long, String)].toDF("id", "v"), store, 2L)
    assert(rows(store) == Set((1L, "a"), (2L, "b"), (3L, "c2")))
    // upToBatch: the admitter's history view (batch 1's) stops below it
    val hist = Sinks.readBatchStore(spark, store, upToBatch = 0L).get
      .select("id").as[Long].collect().toSet
    assert(hist == Set(1L, 2L))
  }

  test("compaction merges committed partitions, preserves rows, and respects upToBatch") {
    val store = mkStore()
    (0 until 5).foreach(i =>
      Sinks.appendBatchPartition(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), store, i.toLong))
    val before = rows(store)
    // only partitions < 4 merge; batch=4 (potentially replayable) untouched
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 4L) == 4)
    assert(rows(store) == before, "compaction must not change store contents")
    val dirs = fsOf(store).listStatus(new Path(store))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs == Set("batch=3", "batch=4"), s"got $dirs")
    // idempotent: nothing left to merge below 4
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 4L) == 0)
  }

  test("time travel: every historical snapshot exact until compaction crosses it; then loud") {
    val store = mkStore()
    (0 to 4).foreach(i =>
      Sinks.appendBatchPartition(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), store, i.toLong))
    def asOf(b: Long): Set[(Long, String)] =
      Sinks.readBatchStore(spark, store, b).map(
        _.select("id", "v").as[(Long, String)].collect().toSet).getOrElse(Set.empty)
    assert(Sinks.readBatchStore(spark, store, -1L).isEmpty)
    (0 to 4).foreach { b =>
      assert(asOf(b.toLong) == (0 to b).map(i => (i.toLong, s"v$i")).toSet, s"asOf $b")
    }
    // CDC between two snapshots composes with ChangeCapture
    val diff = graft.operators.ChangeCapture.snapshotDiff(
      Sinks.readBatchStore(spark, store, 1L).get,
      Sinks.readBatchStore(spark, store, 3L).get, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "insert", 3L -> "insert"))

    // compaction absorbs batches 0-2 into partition 2: snapshots >= 2 stay
    // exact, snapshots < 2 are beyond the horizon and must throw
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 3L) == 3)
    (2 to 4).foreach { b =>
      assert(asOf(b.toLong) == (0 to b).map(i => (i.toLong, s"v$i")).toSet, s"post-compact asOf $b")
    }
    intercept[IllegalStateException](asOf(1L))
    intercept[IllegalStateException](asOf(0L))
  }

  test("chained compactions: the manifest stays transitive — sub-horizon reads throw, never a short snapshot") {
    val store = mkStore()
    (0 to 4).foreach(i =>
      Sinks.appendBatchPartition(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), store, i.toLong))
    def asOf(b: Long): Set[(Long, String)] =
      Sinks.readBatchStore(spark, store, b).map(
        _.select("id", "v").as[(Long, String)].collect().toSet).getOrElse(Set.empty)
    // first compaction absorbs 0,1 into 2; second absorbs 2,3 into 4 —
    // partition 4's manifest must INHERIT {0,1} from partition 2's, or the
    // crossing check below the original horizon silently misses and asOf(1)
    // returns an empty/short snapshot instead of throwing
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 3L) == 3)
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 5L) == 3)
    assert(asOf(4L) == (0 to 4).map(i => (i.toLong, s"v$i")).toSet)
    (0L to 3L).foreach { b =>
      intercept[IllegalStateException] { asOf(b); () }
    }
    // pre-history stays a clean "store empty", not an error: nothing ≤ -1
    // was ever ingested OR absorbed
    assert(Sinks.readBatchStore(spark, store, -1L).isEmpty)
  }

  test("crash between compaction renames self-heals: aside copy restored, no row lost") {
    val store = mkStore()
    (0 until 3).foreach(i =>
      Sinks.appendBatchPartition(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), store, i.toLong))
    val before = rows(store)
    // simulate the post-aside crash window: target renamed aside, staged
    // merge dir incomplete (here: plain missing)
    val fs = fsOf(store)
    assert(fs.rename(new Path(store, "batch=2"), new Path(store, ".batch=2__old")))
    assert(rows(store) == before, "read must restore the aside partition")
    assert(fs.exists(new Path(store, "batch=2")), "heal renames the aside back")
  }

  test("crash after publish but before source deletion: manifest excludes duplicates") {
    val store = mkStore()
    (0 until 3).foreach(i =>
      Sinks.appendBatchPartition(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), store, i.toLong))
    val before = rows(store)
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 3L) == 3)
    // resurrect an absorbed source dir, as a crash between publish and
    // cleanup would leave it
    Seq((0L, "v0")).toDF("id", "v").write.parquet(store + "/batch=0")
    assert(rows(store) == before,
      "manifest must exclude the resurrected absorbed partition")
    assert(!fsOf(store).exists(new Path(store, "batch=0")),
      "read lazily deletes manifest-absorbed leftovers")
  }

  test("horizon check sees marker-less merged partitions: sub-horizon read throws, never short") {
    val store = mkStore()
    (0 to 2).foreach { b =>
      Sinks.appendBatchPartition(spark,
        Seq((b.toLong, s"v$b")).toDF("id", "v"), store, b.toLong)
    }
    assert(Sinks.compactBatchStore(spark, store, upToBatch = 3L) == 3)
    // a compacted store whose merged partition lost its markers: it
    // carries a manifest but NO marker of either kind
    val fs = fsOf(store)
    val merged = fs.listStatus(new Path(store))
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch=")).head
    fs.delete(new Path(merged, Sinks.CommitMarker), false)
    fs.delete(new Path(merged, "_SUCCESS"), false)
    // a later COMMITTED append keeps the commit-filtered view non-empty —
    // the lone-partition guard must not be what saves this read
    Sinks.appendBatchPartition(spark,
      Seq((3L, "v3")).toDF("id", "v"), store, 3L)
    // a requireCommitted time travel BELOW the horizon must still see the
    // marker-less merged partition's manifest and throw — not skip it in
    // the commit filter and return a silently short/empty snapshot
    val e = intercept[IllegalStateException] {
      Sinks.readBatchStore(spark, store, upToBatch = 0L, requireCommitted = true)
    }
    assert(e.getMessage.contains("compaction horizon"), e.getMessage)
  }
}
