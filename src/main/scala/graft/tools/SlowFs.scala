package graft.tools

import java.net.URI

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.sources.ForklessRawLocalFileSystem

/** Latency-injecting Hadoop filesystem (`slow://`) — the object-store
  * simulator behind [[BenchSlowFs]]. Wraps [[ForklessRawLocalFileSystem]] and
  * sleeps a configurable per-operation latency before every metadata and
  * open/create call, approximating an S3-class store where each PUT/GET/
  * HEAD/LIST is a ~tens-of-ms round trip rather than a local syscall
  * (data transfer itself stays local: the simulation prices the REQUEST
  * overhead, which is what dominates small-file snapshot-store traffic —
  * parquet footers, commit markers, directory listings). The base class
  * forks no `chmod` or `readlink`, so the injected latency is the only
  * per-operation cost it adds.
  *
  * Latency knobs (Hadoop conf, milliseconds):
  *   - `fs.slow.latency.ms`        — metadata ops: getFileStatus, listStatus,
  *     exists-class checks (S3 HEAD/LIST ballpark 20–50 ms)
  *   - `fs.slow.mutate.latency.ms` — create/open/delete/rename/mkdirs
  *     (S3 PUT/GET ballpark 30–100 ms; rename on an object store is
  *     copy+delete — charge it double)
  *
  * Register with `spark.hadoop.fs.slow.impl = graft.tools.SlowFs` and point
  * `spark.graft.scratch.dir` at `slow:///tmp/...` — every snapshot-store
  * write/read then pays the simulated round trips while the corpus scan
  * stays on fast local parquet, isolating the store's FS sensitivity.
  */
class SlowFs extends ForklessRawLocalFileSystem {

  private def metaMs: Long = getConf.getLong("fs.slow.latency.ms", 25L)
  private def mutateMs: Long = getConf.getLong("fs.slow.mutate.latency.ms", 50L)

  private def pause(ms: Long): Unit = if (ms > 0) Thread.sleep(ms)

  override def getScheme: String = "slow"

  override def getUri: URI = URI.create("slow:///")

  override def getFileStatus(f: Path): FileStatus = {
    pause(metaMs); super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    pause(metaMs); super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    pause(mutateMs); super.open(f, bufferSize)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    pause(mutateMs)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    pause(mutateMs); super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    pause(2 * mutateMs) // object-store rename = copy + delete
    super.rename(src, dst)
  }

  // RawLocalFileSystem routes its two public mkdirs overloads to a private
  // helper without calling each other — override BOTH or the 1-arg form
  // (what FileSystem.mkdirs(Path) dispatches to here) skips the pause.
  override def mkdirs(f: Path): Boolean = {
    pause(mutateMs); super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    pause(mutateMs); super.mkdirs(f, permission)
  }
}

/** Re-price the q263 snapshot-store loop under simulated object-store
  * latency (the round-15 BENCH_NOTES FS-pricing caveat, VERDICT r15 #8):
  * the measured 4.6 s included two parquet write barriers against local
  * /tmp, and the note warned the composition-saving figure should be
  * re-derived before being quoted for a store with S3-class round trips.
  *
  * Runs q263 twice on SPARK_GRAFT_SF_DIR (default sf0.1): once with
  * scratch on local /tmp, once with scratch on `slow://` (25 ms metadata /
  * 50 ms mutate — S3 ballpark). Prints one JSON line with both min-of-N
  * times; the delta is the PURE store-FS sensitivity of the loop, since
  * corpus scans stay on fast local parquet in both runs.
  */
object BenchSlowFs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(2)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.slow.impl", classOf[SlowFs].getName)
      .config("spark.hadoop.fs.slow.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = graft.SparkEntry.queries("q263_component_snapshot")
    def time(): Double = {
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def minOf(setup: () => Unit): Double = {
      setup(); (0 until runs).map(_ => time()).min
    }
    val localSec = minOf(() =>
      spark.conf.unset(graft.operators.Stage.ScratchConf))
    val slowRoot = java.nio.file.Files.createTempDirectory("graft-slowfs")
    val slowSec = minOf(() =>
      spark.conf.set(graft.operators.Stage.ScratchConf, s"slow://$slowRoot"))
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"metric":"q263_fs_sensitivity","unit":"sec","local_tmp":${r3(localSec)},"slow_fs":${r3(slowSec)},"ratio":${r3(slowSec / localSec)},"meta_ms":25,"mutate_ms":50,"runs":$runs,"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
