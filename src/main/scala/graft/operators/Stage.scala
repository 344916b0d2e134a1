package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** Materialization barriers for multi-consumer subtrees.
  *
  * Several operators compute an expensive intermediate that fans out to two
  * or more consumers (tfidf weights → norms + pairs, the CC loop's label
  * table, a shared shingle index). Referencing such a Dataset twice makes
  * Catalyst re-execute the whole lineage per branch, so those sites
  * snapshot the subtree first. `snapshot` is the one barrier, selected by
  * the session conf `spark.graft.checkpoint`:
  *
  *  - `"local"` (default): `localCheckpoint(eager = true)` — blocks are
  *    persisted on executor local storage (MEMORY_AND_DISK). Fastest,
  *    right for `local[n]` and the bench, but NOT fault-tolerant: an
  *    executor loss makes its blocks unrecoverable and fails the job.
  *  - `"reliable"`: `checkpoint(eager = true)` to the SparkContext
  *    checkpoint directory (taken from `spark.graft.checkpoint.dir` on
  *    first use if none is set) — survives executor loss. Durability costs
  *    one extra lineage execution: Spark writes the checkpoint files in a
  *    follow-up job after the materializing action.
  *
  * EAGER in both modes, deliberately. A lazy checkpoint DEADLOCKS under
  * AQE (round 7, jstack): whichever action first materializes it takes the
  * `RDDCheckpointData` monitor then the RDD lock, while a concurrent AQE
  * stage over the same RDD takes them in the opposite order
  * (`DAGScheduler.getCacheLocs`). Eager materialization completes on the
  * calling thread before any consumer exists, so the race cannot occur.
  *
  * The snapshot carries no layout: consumers plan their own exchanges
  * under the session's AQE setting, and nothing here writes session conf.
  * A keyed (pre-partitioned) layout returns only at a site with a
  * committed ×100 sort-merge win, behind a size gate, and with no
  * session-conf toggle.
  */
object Stage {

  val ModeConf = "spark.graft.checkpoint"
  val DirConf = "spark.graft.checkpoint.dir"

  def snapshot[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.conf.get(ModeConf, "local") match {
      case "local" => ds.localCheckpoint(eager = true)
      case "reliable" =>
        val sc = ds.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = ds.sparkSession.conf.get(DirConf, "")
          require(dir.nonEmpty,
            s"$ModeConf=reliable needs a checkpoint dir: call " +
              s"SparkContext.setCheckpointDir or set $DirConf")
          sc.setCheckpointDir(dir)
        }
        ds.checkpoint(eager = true)
      case other =>
        throw new IllegalArgumentException(
          s"$ModeConf must be 'local' or 'reliable', got '$other'")
    }

  /** `snapshot` for the callers that still want the DataFrame alias. */
  def snapshotDF(df: DataFrame): DataFrame = snapshot(df)

  val ScratchConf = "spark.graft.scratch.dir"

  /** Fresh scratch directory for queries that materialize TRANSIENT
    * Spark-visible state per call (the q263 snapshot-store round trip,
    * the layout/interchange demos): a unique dir under
    * `spark.graft.scratch.dir` when set, else the driver-local JVM
    * tmpdir. On a real cluster the conf MUST point at a SHARED
    * filesystem (HDFS / object store): executors write the store's
    * partitions, and a driver-local path would scatter them across
    * machine-local disks — the read-back would see a partial or empty
    * store. `local[n]` (the gate/bench harness) needs no conf:
    * driver-local IS shared there. Pair with [[deleteScratch]] in a
    * `finally` — it deletes through the Hadoop FS API, so it works on
    * whatever filesystem the conf selected.
    */
  def scratchDir(
      spark: org.apache.spark.sql.SparkSession, prefix: String): String = {
    val root = spark.conf.get(ScratchConf, "")
    if (root.isEmpty)
      java.nio.file.Files.createTempDirectory(prefix).toString
    else {
      val p = new org.apache.hadoop.fs.Path(
        root, s"$prefix-${java.util.UUID.randomUUID()}")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      p.toString
    }
  }

  def deleteScratch(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
