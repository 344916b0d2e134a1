package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Sink operators (reference K1–K8, `ingester/es_common.py:169-210` +
  * `ingester/annotations_indexer.py:103-227`), re-expressed for a columnar
  * table sink (parquet directories as the hermetic stand-in for ES indices;
  * the option plumbing maps 1:1 onto an ES connector's `es.resource.write`).
  */
object Sinks {

  /** K1/K2/K3 — bulk append. Spark batches writes internally; the
    * reference's 10k-doc chunking (`ingester/es_common.py:98`) maps to file
    * sizing via `maxRecordsPerFile` rather than hand-rolled chunks.
    */
  def append(df: DataFrame, path: String, maxRecordsPerFile: Int = 1000000): Unit =
    df.write.mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)

  /** K4 — split-by-field partitioned sink with P5 name normalization
    * (`ingester/annotations_indexer.py:214-218`): one directory partition per
    * normalized key value, written in a single job (the reference computes the
    * index name per record and issues per-index bulk calls). `mode` defaults
    * to Overwrite for a fresh sink; Append adds to an existing layout.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      splitField: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("__part", partValue(splitField))
      .write.mode(mode)
      .partitionBy("__part")
      .parquet(path)

  /** K4 + K5 — [[upsert]] into the [[writePartitioned]] layout: each split
    * value's `__part=<value>` directory is its own store, merged by `keyCol`
    * alone. A batch rewrites only the partitions it touches, so a replayed
    * batch converges and a later batch never truncates another's
    * partitions. `batch` is read once for its split values and once per
    * touched partition; a caller whose batch is costly to recompute caches
    * it first.
    */
  def upsertPartitioned(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCol: String,
      splitField: String): Unit = {
    val parted = batch.withColumn("__part", partValue(splitField))
    parted.select("__part").distinct().collect().map(_.getString(0)).foreach { v =>
      // the directory name the partitioned writer gives this value
      val dir = ExternalCatalogUtils.getPartitionPathString("__part",
        if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME else v)
      upsert(spark, parted.filter(col("__part") <=> lit(v)).drop("__part"), s"$path/$dir", keyCol)
    }
  }

  /** The K4 partition value: `splitField`'s value, P5-normalized. */
  private def partValue(splitField: String): Column = {
    // backtick-quote unless the caller already did: sink columns carry
    // literal dots (`nlp.id`) that col() would parse as field access
    val ref = if (splitField.startsWith("`")) splitField else s"`$splitField`"
    TextFunctions.normalizeIndexName(col(ref))
  }

  /** JSONL (newline-delimited JSON) sink — the interchange format most
    * training corpora ship in. A plain partitioned `json` write: no
    * coalesce (one file per task at cluster scale), gzip off by default so
    * downstream readers can split files. Spark's JSON writer escapes
    * embedded quotes/newlines/unicode, so [[readJsonl]] round-trips text
    * exactly (JsonlSpec pins a hostile-payload round-trip).
    */
  def writeJsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** JSONL source with an EXPLICIT schema — mandatory, not optional: schema
    * inference reads the whole dataset once before the real scan (a 100 TB
    * corpus scanned twice), and silently types absent fields as string.
    * Projection still prunes (Spark's JSON reader parses only requested
    * fields), but filters do NOT push into JSON files — JSONL is an
    * interchange format here; the query-optimized layouts are the parquet
    * sinks (range-clustered / z-order / bloom).
    */
  def readJsonl(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** K7 — sink DDL / schema enforcement at write (reference `put_mapping`,
    * `ingester/annotations_indexer.py:835-840`): cast the batch to the
    * declared StructType, failing fast on missing or incompatible columns
    * instead of letting the sink accumulate drifting schemas.
    */
  def ensureSchema(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val missing = schema.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty, s"batch is missing declared sink columns: ${missing.mkString(", ")}")
    df.select(schema.fields.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
  }

  /** K8 — drop sink (reference `drop_index`, `ingester/es_common.py:162-167`)
    * — test-harness utility.
    */
  def drop(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true)
  }

  /** Bucketed table sink: co-locates rows by `bucketCol` at WRITE time so
    * repeated joins/aggregations on that key skip their shuffle entirely —
    * the biggest single lever for a 100 TB fact table that is joined on the
    * same key by every query (the reference re-fetches and re-groups
    * everything per run). Requires `saveAsTable` (bucket metadata lives in
    * the catalog, not the files).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** Range-clustered parquet layout: `repartitionByRange` gives each output
    * file a DISJOINT range of the cluster key (boundaries from a reservoir
    * sample), `sortWithinPartitions` orders rows inside each file so parquet
    * row-group min/max statistics are tight. The layout half of predicate
    * pushdown: at 100 TB a range predicate on the cluster key then skips
    * whole files/row-groups at scan time instead of reading and discarding.
    * The bucketed form ([[writeBucketed]]) optimizes equi-joins; this form
    * optimizes range scans (time-ranged ingestion reads, B1's date
    * segments).
    *
    * Timestamps are forced to INT64 micros
    * (`spark.sql.parquet.outputTimestampType`, set around the write — it is
    * a session conf, NOT a writer option; `.option("outputTimestampType",
    * …)` is silently ignored by ParquetOptions): Spark's default INT96
    * encoding carries NO min/max statistics, which silently disables
    * exactly the row-group skipping this layout exists for (measured: a
    * predicate over an INT96 cluster key reads 100% of rows; micros reads
    * ~selectivity%). TIMESTAMP_NTZ cluster keys have the same failure mode
    * from the other side — the stats exist but Spark never converts an NTZ
    * filter to a parquet predicate — so callers should cast NTZ keys to
    * LTZ before clustering (LayoutPruningSpec pins both behaviors).
    */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      clusterCol: String,
      numFiles: Int): Unit =
    withMicrosTimestamps(df.sparkSession) {
      df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(clusterCol))
        .sortWithinPartitions(clusterCol)
        .write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** Z-order (Morton) TWO-dimension clustered layout: the multi-column
    * generalization of [[writeRangeClustered]] (Delta/Iceberg's OPTIMIZE
    * ZORDER BY). Range clustering on one key gives that key tight per-file
    * min/max stats and leaves every other column spanning the full range;
    * interleaving the bit-planes of two rank-normalized keys gives BOTH
    * columns locality, so a predicate on either — or both — skips row
    * groups.
    *
    * `zColA`/`zColB` are NUMERIC sort-key expressions (cast timestamps via
    * `unix_micros` at the call site); they only shape the LAYOUT — the
    * written schema is `df`'s unchanged. Normalization is min/max-linear
    * to 16 bits per dim off a one-row broadcast aggregate (rank-exact
    * normalization would need a global sort; linear is layout-quality
    * only, correctness-free), the interleave is 16 unrolled shift/mask
    * terms (codegen), and the write is `repartitionByRange` + in-partition
    * sort on the z-value — no global sort. Degenerate dims (min = max)
    * collapse to bit plane 0.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zColA: Column,
      zColB: Column,
      numFiles: Int): Unit =
    withMicrosTimestamps(df.sparkSession) {
      import org.apache.spark.sql.functions._
      val b = df.agg(
        min(zColA).cast("double").as("__amin"), max(zColA).cast("double").as("__amax"),
        min(zColB).cast("double").as("__bmin"), max(zColB).cast("double").as("__bmax"))
      def bits16(c: Column, lo: Column, hi: Column): Column = {
        val span = when(hi === lo, lit(1.0)).otherwise(hi - lo)
        least(floor((c.cast("double") - lo) / span * 65536.0), lit(65535.0)).cast("long")
      }
      val az = bits16(zColA, col("__amin"), col("__amax"))
      val bz = bits16(zColB, col("__bmin"), col("__bmax"))
      val z = (0 until 16).map { i =>
        shiftright(az, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
          shiftright(bz, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
      val cols = df.columns
      df.crossJoin(broadcast(b))
        .withColumn("__z", z)
        .repartitionByRange(numFiles, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions("__z")
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** Bloom-indexed layout for point lookups on HIGH-cardinality keys —
    * the third leg of the skipping family: [[writeRangeClustered]] prunes
    * by 1-d min/max, [[writeZOrdered]] by 2-d min/max, and this by
    * per-row-group parquet bloom filters, which work when clustering
    * cannot (the key arrives in write order, or there are too many
    * distinct values for any layout to give tight ranges). An equality /
    * IN predicate pushed to the scan probes each row group's bloom and
    * skips true negatives — on a needle-in-haystack lookup over 100 TB
    * that is (1 − FPP) of the row groups gone without clustering a thing.
    *
    * Per key column we also disable dictionary encoding (column-scoped —
    * other columns keep theirs): parquet-mr skips writing the bloom when
    * a column is fully dictionary-encoded, so a small-SF test corpus
    * would silently fall back to dictionary pruning and the spec would
    * pin the wrong mechanism. `expectedNdv` sizes the filter
    * (~1.05 bytes/key at the default 1% FPP).
    */
  def writeBloomIndexed(
      df: DataFrame,
      path: String,
      bloomCols: Seq[(String, Long)],
      numFiles: Int): Unit = {
    val base = df.repartition(numFiles).write.mode(SaveMode.Overwrite)
    val w = bloomCols.foldLeft(base) { case (wr, (c, ndv)) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    w.parquet(path)
  }

  /** Serializes the `spark.sql.parquet.outputTimestampType` set/restore
    * window across graft maintenance ops in this JVM: it is a SESSION conf
    * (ParquetOptions ignores the writer option), so two overlapping
    * set/restore windows could restore a stale value. The lock makes the
    * graft-side mutation safe; an UNRELATED concurrent write on the same
    * session still inherits TIMESTAMP_MICROS during the window — callers
    * must treat [[writeRangeClustered]]/[[compact]] as session-level
    * maintenance windows (single concurrent writer per session), the same
    * assumption [[upsert]] already documents per sink path. MICROS is a
    * safe value to inherit (it is what Spark 4 writes by default for new
    * tables and carries full min/max stats), so the blast radius of a
    * violated assumption is an encoding choice, not corruption.
    */
  private val timestampConfLock = new Object
  private def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A =
    timestampConfLock.synchronized {
      val conf = spark.conf
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = conf.getOption(key)
      conf.set(key, "TIMESTAMP_MICROS")
      try body
      finally prev.fold(conf.unset(key))(conf.set(key, _))
    }

  /** Recover a swap that crashed between [[replaceWith]]'s two renames:
    * `dst` absent but the `.name__old` aside copy present means `__old`
    * holds the ONLY durable copy of the store — rename it back before
    * anyone reads "absent" and rebuilds from a single batch. Returns true
    * if a recovery happened. Idempotent; a no-op in every healthy state
    * (dst present, or a genuinely-new sink where neither exists).
    */
  private def healCrashedSwap(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Boolean = {
    val old = new Path(dst.getParent, "." + dst.getName + "__old")
    if (!fs.exists(dst) && fs.exists(old)) {
      if (!fs.rename(old, dst))
        throw new java.io.IOException(
          s"found crashed swap ($dst missing, aside copy at $old) but failed to restore it")
      true
    } else false
  }

  /** Read the existing sink if its path exists; any OTHER failure (transient
    * FS error, corrupt footer) propagates. Treating every exception as
    * "sink absent" would make the subsequent replace-write destroy prior
    * data on a transient read error — silent data loss.
    *
    * Self-heals a crashed [[replaceWith]] swap first, so a restarted job
    * sees the recovered prior store instead of "no history".
    */
  private[graft] def readExisting(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healCrashedSwap(fs, p)
    if (fs.exists(p)) Some(spark.read.parquet(path)) else None
  }

  /** Replace `path` with `merged` via a rename-aside swap: the source of a
    * merge is also its destination, and overwriting a path while reading it
    * is undefined.
    *
    * Swap order is write-tmp → rename dst aside → rename tmp into place →
    * delete the aside copy. A crash at any point leaves the data either at
    * `dst` or in exactly one hidden sibling: `.name__tmp` (crash before the
    * swap — `dst` still holds the OLD copy, tmp holds the new one) or
    * `.name__old` (crash between the two renames — `dst` is briefly absent
    * but the old copy is one `rename` away). Recovery is AUTOMATIC:
    * [[readExisting]] renames `.name__old` back when `dst` is missing, and
    * this method refuses to publish over that state rather than deleting
    * the only copy; leftover hidden dirs from completed swaps are deleted
    * on the next call. The previous
    * delete-then-rename order had a window where the ONLY copy lived in the
    * hidden tmp — absent `dst` with no visible pointer to the data.
    *
    * Both siblings are DOT-PREFIXED: hidden paths are ignored by Spark's
    * file listing and partition discovery, so when `path` is a partition
    * directory inside a larger sink ([[compactPartitioned]]), neither a
    * concurrent root reader nor a crash leftover can surface as a phantom
    * duplicate partition (a bare `name__tmp` sibling would: it contains
    * `=` and a full row copy).
    *
    * Single-writer assumption: one upserting job per sink path at a time
    * (the Structured Streaming foreachBatch caller guarantees this; the
    * fixed `__tmp`/`__old` suffixes would collide under concurrent
    * writers). Matches the reference, whose per-run ES updates are also
    * last-writer-wins.
    */
  private def replaceWith(spark: SparkSession, merged: DataFrame, path: String): Unit = {
    val dst = new Path(path)
    val tmp = new Path(dst.getParent, "." + dst.getName + "__tmp")
    val old = new Path(dst.getParent, "." + dst.getName + "__old")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dst.getFileSystem(conf)
    // If dst is missing but __old exists, a prior swap crashed between its
    // two renames and __old holds the ONLY copy of the previous store.
    // `merged` was necessarily computed from an absent dst (history=None),
    // so publishing it would destroy that copy — refuse instead. Callers
    // that read through [[readExisting]] never hit this (it self-heals
    // before the read); the throw is the backstop for any path that
    // bypassed it.
    if (!fs.exists(dst) && fs.exists(old))
      throw new java.io.IOException(
        s"refusing to overwrite crashed swap state: $dst is missing and $old holds " +
          s"the only prior copy — recover via readExisting/healCrashedSwap first")
    fs.delete(old, true) // leftover aside copy from a completed prior swap
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"failed to move $dst aside to $old")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"failed to publish $tmp as $dst; prior copy preserved at $old")
    fs.delete(old, true)
  }

  /** K5/K6 — upsert keyed by `keyCol`: read-merge-overwrite. New rows win
    * over existing rows with the same key (the reference's Painless
    * script-update semantics, `ingester/annotations_indexer.py:148-200`).
    * Idempotent under re-runs of the same batch: merging twice converges.
    *
    * At scale this is the `foreachBatch` MERGE pattern; on a plain-parquet
    * sink the merge rewrites the table once per batch, so batch sizing (B1
    * segments) bounds the rewrite cost.
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String, keyCol: String): Unit =
    upsert(spark, batch, path, keyCol, readExisting(spark, path))

  /** [[upsert]] with the existing sink passed in by a caller that already
    * holds a handle (the streaming admission flows compare a batch against
    * the store and then update it). This saves the extra path-existence
    * probe and parquet-footer open — NOT the merge's data scan: `existing`
    * is lazy, so the merge write still reads the store once (callers that
    * want a single physical read must snapshot the handle themselves and
    * pay the materialization). `existing` must be the CURRENT contents of
    * `path` (or None when absent); the single-writer assumption makes that
    * safe to guarantee.
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String, keyCol: String,
             existing: Option[DataFrame]): Unit = {
    val merged = existing match {
      case Some(old) =>
        // NULL-SAFE key match (<=>): a plain equi-anti-join never matches
        // null keys, so a replayed batch carrying a null-key row would
        // re-append it every replay — one duplicate per crash, breaking
        // the idempotence contract the streaming exactly-once argument
        // rests on. Under <=> all null-key rows form one logical key:
        // a batch containing any null-key row replaces the store's
        // null-key rows wholesale, and merging twice converges.
        val keys = batch.select(col(keyCol).as("__upsert_k")).distinct()
        old.join(keys, col(keyCol) <=> col("__upsert_k"), "left_anti")
          .unionByName(batch)
      case None => batch
    }
    replaceWith(spark, merged, path)
  }

  /** Small-file compaction for a parquet sink: rewrite `path` into
    * ⌈totalBytes / targetFileBytes⌉ files via the same atomic temp-dir swap
    * the upserts use. Continuous [[upsert]]/streaming-append sinks
    * accumulate per-batch part files; at 100 TB unmanaged small files
    * dominate scan cost (one task + one open per file, footer overhead,
    * no row-group locality), so compaction is a first-class maintenance
    * operator, not an afterthought. With `clusterCol` set, the rewrite
    * RE-CLUSTERS instead of round-robin packing — preserving (or
    * establishing) the [[writeRangeClustered]] layout so compaction never
    * silently destroys row-group-pruning eligibility (the encoding caveat
    * there applies here too and is handled the same way).
    *
    * Returns the file count after compaction. Single-writer assumption,
    * same as [[upsert]].
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long,
      clusterCol: Option[String] = None): Int = {
    require(targetFileBytes > 0, s"need targetFileBytes > 0, got $targetFileBytes")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // flat sinks only: rewriting a hive-partitioned layout into one flat
    // directory would materialize the partition column and silently destroy
    // partition pruning — compact each partition directory instead.
    // One listing serves the guard and the sizing (a paged LIST per call
    // on an object store with many part files).
    val entries = fs.listStatus(p)
    require(!entries.exists(_.isDirectory),
      s"$path contains subdirectories (partitioned sink?) — " +
        "compact each partition directory individually")
    val dataFiles = entries.filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
    require(dataFiles.nonEmpty, s"no parquet data files under $path")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val repacked = clusterCol match {
      case Some(c) => df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(nFiles)
    }
    withMicrosTimestamps(spark)(replaceWith(spark, repacked, path))
    fs.listStatus(p).count { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
  }

  /** [[compact]] for a hive-partitioned sink ([[writePartitioned]] / K4
    * layouts): each `col=value` partition directory is compacted
    * independently, so the partition column stays in the directory
    * structure and partition pruning survives. Returns (partitions
    * compacted, total files after). Partitions are processed sequentially
    * — at cluster scale each per-partition rewrite is itself distributed,
    * and one partition in flight bounds the temp-space footprint.
    */
  def compactPartitioned(
      spark: SparkSession,
      root: String,
      targetFileBytes: Long,
      clusterCol: Option[String] = None): (Int, Int) = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal crashed per-partition swaps FIRST: a compact() that died between
    // replaceWith's two renames leaves the partition hidden as
    // `.col=value__old` with the visible dir gone — the listing below
    // would skip it (dot-prefixed), this method would never revisit it,
    // and the partition would stay invisible to every reader forever
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(".") && n.endsWith("__old"))
        healCrashedSwap(fs,
          new Path(p, n.stripPrefix(".").stripSuffix("__old")))
    }
    val parts = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      // mirror Spark's hidden-path rule (shouldFilterOutPathName): dots are
      // always hidden (crash-leftover `.…__tmp` swaps); underscores only
      // when the name has no `=` (so `__part=a` partition dirs stay visible,
      // `_temporary` does not)
      st.isDirectory && n.contains("=") && !n.startsWith(".")
    }
    require(parts.nonEmpty,
      s"$root has no col=value partition directories — use compact() for flat sinks")
    // refuse batch stores: their partitions carry graft side files (the
    // compaction manifest / commit marker) that a spark.read-and-rewrite
    // would silently strip — voiding the time-travel horizon throw and
    // making requireCommitted readers reject healthy data. Batch stores
    // have their own compactBatchStore.
    parts.foreach { st =>
      require(
        !fs.exists(new Path(st.getPath, ManifestName)) &&
          !fs.exists(new Path(st.getPath, CommitMarker)),
        s"${st.getPath} carries batch-store side files " +
          s"($ManifestName/$CommitMarker) — use compactBatchStore, not " +
          "compactPartitioned, on an append-only batch store")
    }
    // fail fast BEFORE rewriting anything: a nested col=value level would
    // otherwise abort midway with half the partitions rewritten
    parts.foreach { st =>
      require(!fs.listStatus(st.getPath).exists(_.isDirectory),
        s"${st.getPath} is itself partitioned (multi-level layout) — " +
          "compactPartitioned handles single-level partitioning only")
    }
    val counts = parts.map(st =>
      compact(spark, st.getPath.toString, targetFileBytes, clusterCol))
    (parts.length, counts.sum)
  }

  // ---------------------------------------------------------------------
  // Append-only batch-partitioned store (the streaming-admission state
  // backend). The upsert store above is read-merge-REWRITE per batch —
  // O(store) writes per micro-batch, the measured cost drift as history
  // grows. Admission state is append-only by construction (admission
  // decisions are final), so the scale-correct layout is one partition
  // directory per micro-batch (`batch=<id>/`), written with Overwrite:
  //   - appending a batch writes O(batch) bytes, never O(store);
  //   - a REPLAYED micro-batch (same Structured Streaming batchId)
  //     overwrites ITS OWN partition with identical content — exactly-once
  //     without any read-modify-write;
  //   - compaction merges committed partitions on a cadence, bounding file
  //     count; a manifest makes the merge crash-consistent (below).
  // Single-writer per store path, same contract as [[upsert]].
  //
  // Torn-read tolerance by consumer (a crash mid-write leaves a
  // partition without the graft-owned [[CommitMarker]], written after the
  // job returns, until the replay rewrites it):
  //   - TEAR-TOLERANT (read with requireCommitted = false, the
  //     default): KMV partials (StreamingKmv — any subset of a partial
  //     is a valid partial), quantile bucket partials
  //     (StreamingQuantile — same), admission shingle/vector stores
  //     (StreamingDedup/StreamingSemanticDedup — a missing row can only
  //     re-admit, never corrupt) and their compactions.
  //   - TEAR-INTOLERANT (must pass requireCommitted = true): any
  //     last-writer-wins DELTA store, where a partial delta is
  //     internally inconsistent — component snapshots
  //     (Dedup.readComponentSnapshot) are the current instance. A new
  //     consumer whose partitions are not independently meaningful
  //     belongs in this class.
  // ---------------------------------------------------------------------

  private val ManifestName = "_graft_absorbed.json"

  private def batchDirId(name: String): Option[Long] =
    if (name.startsWith("batch=")) name.stripPrefix("batch=").toLongOption else None

  /** The batch ids a merged partition's manifest names as absorbed; empty
    * for a partition no compaction wrote.
    */
  private def absorbedIds(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Long] = {
    val m = new Path(dir, ManifestName)
    if (!fs.exists(m)) return Seq.empty
    val in = fs.open(m)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    "-?\\d+".r.findAllIn(txt).map(_.toLong).toSeq
  }

  /** Graft-owned per-partition commit marker, the store's only one.
    * Tear-INTOLERANT consumers gate on this, not on Spark's `_SUCCESS`:
    * the job committer's marker is a cluster CONFIG
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` is common
    * on object stores), and a store whose committed partitions merely LOOK
    * uncommitted would silently reconstruct to None — for a LWW delta
    * store that means rebuilding from the current batch alone and
    * dropping history. [[appendBatchPartition]] writes it after every
    * write and [[compactBatchStore]] stages it before every publish, so
    * commit visibility is a property of the store, not of the committer
    * config.
    */
  private[graft] val CommitMarker = "_graft_committed"

  /** Append one micro-batch's rows as the store partition `batch=<id>`.
    * Overwrite semantics make replay idempotent: Structured Streaming
    * re-delivers a batch only under the SAME batchId, and the partition is
    * rewritten with the same deterministic content. Caller contract: ids
    * are monotonically increasing across batches (foreachBatch guarantees
    * this), and a given id is only written while no LATER id has committed.
    * The [[CommitMarker]] lands strictly AFTER the write job returns — a
    * crash anywhere before it leaves the partition invisible to
    * `requireCommitted` readers until the replay rewrites it.
    */
  def appendBatchPartition(
      spark: SparkSession, batch: DataFrame, path: String, batchId: Long): Unit = {
    require(batchId >= 0, s"need batchId >= 0, got $batchId")
    val dir = s"$path/batch=$batchId"
    batch.write.mode(SaveMode.Overwrite).parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(dir, CommitMarker), true).close()
  }

  /** List the live partition directories of a batch store, SELF-HEALING
    * crash leftovers first: a compaction that died between its two renames
    * leaves `.batch=<id>__old` holding the only copy of that partition —
    * rename it back (and drop the incomplete hidden merge dir); a
    * compaction that died after publishing its merged partition but before
    * deleting the absorbed source dirs leaves duplicates — the manifest
    * inside the merged partition names them, and they are deleted here.
    * Returns (id, dir) pairs sorted by id. Empty when the path is absent
    * or holds no partitions.
    */
  private def liveBatchDirs(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[(Long, Path)] = {
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root)
    // heal rename-aside leftovers: visible dir missing → restore; else stale
    entries.filter(e => e.getPath.getName.startsWith(".batch=")).foreach { e =>
      val visible = new Path(root, e.getPath.getName.stripPrefix(".").stripSuffix("__old"))
      if (e.getPath.getName.endsWith("__old") && !fs.exists(visible)) {
        if (!fs.rename(e.getPath, visible))
          throw new java.io.IOException(
            s"failed to restore crashed compaction aside ${e.getPath}")
      } else fs.delete(e.getPath, true)
    }
    // an incomplete hidden merge dir is redone work, never data loss
    fs.delete(new Path(root, ".compact__tmp"), true)
    val dirs = fs.listStatus(root)
      .flatMap(e => if (e.isDirectory) batchDirId(e.getPath.getName).map(_ -> e.getPath) else None)
      .toSeq
    // absorbed partitions named by any manifest are stale duplicates
    val absorbed = dirs.flatMap { case (_, dir) => absorbedIds(fs, dir) }.toSet
    dirs.filter { case (id, dir) =>
      if (absorbed(id)) { fs.delete(dir, true); false }
      // a zero-survivor batch writes only its markers; a data-less dir would
      // break multi-path schema inference and carries no rows — skip it
      else fs.listStatus(dir).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
    }.sortBy(_._1)
  }

  /** Read a batch store as of batch `upToBatch`: the union of its live
    * partitions with id ≤ `upToBatch` (None when there are none). The
    * partition ids are storage bookkeeping, not data — rows come back
    * exactly as appended. The default reads the whole store.
    *
    * Valid because a merged (compacted) partition carries the id of its
    * NEWEST absorbed batch and therefore contains only rows from batches
    * ≤ its own id; any partition with a larger id is excluded wholesale.
    * An admitter processing batch B reads `upToBatch = B - 1`: history is
    * batches < B, NOT a half-committed partition B left by a crashed
    * previous attempt — including it would make the replay's
    * re-ingestion guard skip rows the rewrite is about to overwrite
    * (silent row loss on replay).
    *
    * The horizon contract (the same trade Delta's VACUUM makes): once a
    * compaction has absorbed batches ≤ `upToBatch` into a partition with
    * id > `upToBatch`, that snapshot can no longer be reconstructed —
    * detected via the merge manifests and surfaced as an
    * `IllegalStateException`, never as a silently short read. Snapshots
    * at or above every merged partition's id remain exact forever.
    */
  def readBatchStore(
      spark: SparkSession, path: String, upToBatch: Long = Long.MaxValue,
      requireCommitted: Boolean = false): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // requireCommitted: skip partitions without the [[CommitMarker]] —
    // a crash mid-write leaves a TORN partition that is a valid subset
    // for tear-tolerant partials (KMV/quantile: any subset of a partial
    // is a partial) but internally inconsistent for last-writer-wins
    // DELTA stores (component snapshots: some members of a merge
    // relabeled, others not). Only the newest partition can be torn
    // (batch ids are sequential), so skipping it reconstructs the
    // previous committed version — exactly what the replay will rebuild
    // from.
    val live = liveBatchDirs(fs, root)
    val dirs = live.filter { case (_, dir) =>
      !requireCommitted || fs.exists(new Path(dir, CommitMarker))
    }
    // Under the single-writer sequential contract at most the NEWEST
    // partition can be uncommitted; a marker-less store is explainable as
    // a torn tail ONLY when that tail could be the store's first-ever
    // write — a lone `batch=0` with no compaction manifest. Anything else
    // with data but no marker anywhere (several partitions; a lone
    // partition with id > 0, whose sequential predecessors must have
    // existed; a lone COMPACTED partition, whose manifest proves it
    // absorbed committed history) is a store this reader cannot
    // interpret (foreign layout, or markers stripped). Falling back to
    // None there would silently present an EMPTY store and let a LWW
    // consumer rebuild from scratch over live history — fail loudly
    // instead.
    if (requireCommitted && dirs.isEmpty && live.nonEmpty) {
      val explainableTorn = live.size == 1 && live.head._1 == 0L &&
        !fs.exists(new Path(live.head._2, ManifestName))
      if (!explainableTorn)
        throw new IllegalStateException(
          s"batch store at $path has ${live.size} data partition(s) " +
          s"(ids ${live.map(_._1).mkString(", ")}) but none carries a " +
          s"commit marker ($CommitMarker): refusing to treat a marker-less " +
          "store as empty")
    }
    // horizon check over ALL live partitions, not just commit-filtered
    // ones: a manifest-bearing merged partition is committed in fact (the
    // marker lands in the staged dir BEFORE publish), and skipping one
    // whose marker was lost would let a below-horizon time travel return
    // a silently short/empty snapshot instead of the promised throw
    val crossing = live.filter { case (id, dir) =>
      id > upToBatch && absorbedIds(fs, dir).exists(_ <= upToBatch)
    }
    if (crossing.nonEmpty)
      throw new IllegalStateException(
        s"time-travel to batch $upToBatch is beyond the compaction horizon: " +
        s"partition(s) ${crossing.map(_._1).mkString(", ")} absorbed older batches")
    val visible = dirs.filter(_._1 <= upToBatch)
    if (visible.isEmpty) None
    else Some(spark.read.parquet(visible.map(_._2.toString): _*))
  }

  /** Merge every committed partition with id < `upToBatch` into the
    * newest of them, bounding the store's file and partition count. Run on
    * a cadence (every N batches), with `upToBatch` = the CURRENT batch id:
    * Structured Streaming replays at most the current (uncommitted) batch,
    * so partitions below it are final and safe to merge.
    *
    * Crash consistency, in write order: (1) merged rows + a manifest
    * naming the absorbed ids are staged in a hidden dir; (2) the target
    * partition is renamed aside; (3) the staged dir is renamed into place;
    * (4) the aside copy and absorbed sources are deleted. A crash before
    * (3) is healed by restoring the aside copy ([[liveBatchDirs]]); a
    * crash before (4) completes leaves duplicates that the manifest
    * excludes (and deletes) on the next read. Readers never see a row
    * twice or lose one.
    *
    * Returns the number of partitions merged (0 = nothing to do).
    */
  def compactBatchStore(spark: SparkSession, path: String, upToBatch: Long): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val eligible = liveBatchDirs(fs, root).filter(_._1 < upToBatch)
    if (eligible.size < 2) return 0
    val target = eligible.last._2
    val tmp = new Path(root, ".compact__tmp")
    spark.read.parquet(eligible.map(_._2.toString): _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // the manifest must be TRANSITIVE: absorbed partitions (and the target
    // itself, whose dir this rewrite replaces) may carry manifests from
    // earlier compactions — dropping those ids would let a later
    // readBatchStore below the horizon miss the crossing check and
    // return a silently short snapshot instead of throwing
    val inherited = eligible.flatMap { case (_, dir) => absorbedIds(fs, dir) }
    val absorbed = (inherited ++ eligible.init.map(_._1)).distinct.sorted
    val manifest = new Path(tmp, ManifestName)
    val out = fs.create(manifest, true)
    try out.write(absorbed.mkString("[", ",", "]").getBytes("UTF-8"))
    finally out.close()
    // the merged partition holds only already-committed rows — stamp the
    // marker before publish so requireCommitted readers never skip it
    fs.create(new Path(tmp, CommitMarker), true).close()
    val aside = new Path(root, "." + target.getName + "__old")
    fs.delete(aside, true)
    if (!fs.rename(target, aside))
      throw new java.io.IOException(s"failed to move $target aside to $aside")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"failed to publish compacted store $tmp as $target; aside preserved at $aside")
    fs.delete(aside, true)
    eligible.init.foreach { case (_, dir) => fs.delete(dir, true) }
    eligible.size
  }

  /** K6 — nested-mode upsert: on key conflict, MERGE the `annotations`
    * arrays (dedup via canonical struct equality, deterministic order)
    * instead of replacing the row — the reference's script-update path
    * (`ingester/annotations_indexer.py:166-200`): "if exists: update merged
    * array; else: index fresh doc".
    */
  def upsertMergeArrays(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCol: String,
      arrayCol: String): Unit = {
    val merged = readExisting(spark, path) match {
      case Some(old) =>
        val oldR = old.withColumnRenamed(arrayCol, "__old_arr")
        val newR = batch.withColumnRenamed(arrayCol, "__new_arr")
        val otherCols = batch.columns.filter(c => c != keyCol && c != arrayCol)
        // per-key array merge is defined for NON-NULL keys only: a plain
        // full_outer never matches null keys, so a replayed null-key row
        // used to re-append every replay (duplicate per crash). Null keys
        // cannot be addressed for update — the live K5 path's null-id
        // guard refuses them outright — so they follow [[upsert]]'s
        // convergence rule instead: a batch carrying any null-key row
        // replaces the store's null-key rows wholesale.
        val mergedNN = oldR.filter(col(keyCol).isNotNull)
          .join(newR.filter(col(keyCol).isNotNull), Seq(keyCol), "full_outer")
          .select(
            col(keyCol) +:
              otherCols.map(c => coalesce(newR(c), oldR(c)).as(c)) :+
              graft.operators.AnnotationPipeline
                .mergeAnnotationArrays(col("__old_arr"), col("__new_arr"))
                .as(arrayCol): _*)
        val newNullKey = newR.filter(col(keyCol).isNull)
          .select(col(keyCol).as("__mk")).distinct() // 0 or 1 row
        val oldNullKept = oldR.filter(col(keyCol).isNull)
          .join(newNullKey, col(keyCol) <=> col("__mk"), "left_anti")
          .withColumnRenamed("__old_arr", arrayCol)
        val newNullRows = newR.filter(col(keyCol).isNull)
          .withColumnRenamed("__new_arr", arrayCol)
        mergedNN.unionByName(oldNullKept).unionByName(newNullRows)
      case None => batch
    }
    replaceWith(spark, merged, path)
  }
}
