package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.operators.{AnnotationPipeline, NlpService}
import graft.sources.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem}
import graft.streaming.IngestJob

/** The `file:` filesystem that `core-site.xml` installs: it resolves from a
  * plain `Configuration` for both Hadoop APIs, matches stock Hadoop's mode
  * bits and link statuses, keeps the checkpoint writer's atomic overwrite,
  * and lets a streaming drain run without a `chmod` or `readlink` process.
  */
class LocalFsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): JPath = Files.createTempDirectory(s"graft-localfs-$tag")

  /** Permission, setuid, setgid and sticky bits, in octal. */
  private def mode(p: JPath): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff)

  /** Hadoop's own local filesystem, as it is without `core-site.xml`. */
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def stockFc: FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getLocalFSFileContext(conf)
  }

  test("a plain Configuration gives both Hadoop APIs the forkless file: classes") {
    val conf = new Configuration()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForklessRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[ForklessLocalFileSystem].getName)
    val local = FileSystem.getLocal(conf)
    val p = new Path(tmp("getlocal").toString, "a/b")
    assert(local.mkdirs(p) && local.getFileStatus(p).isDirectory)
  }

  test("mkdirs and create give stock Hadoop's mode bits under the default umask") {
    val ours = FileSystem.getLocal(new Configuration())
    val stock = stockFs
    val root = tmp("modes")
    def made(fs: FileSystem, parent: JPath, name: String, perm: Option[FsPermission]): (String, String) = {
      val (d, f) = (parent.resolve(s"$name-dir"), parent.resolve(s"$name-file"))
      perm match {
        case Some(pm) =>
          assert(fs.mkdirs(new Path(d.toString), pm))
          fs.create(new Path(f.toString), pm, false, 4096, 1.toShort, 1L << 20, null).close()
        case None =>
          assert(fs.mkdirs(new Path(d.toString)))
          fs.create(new Path(f.toString)).close()
      }
      (mode(d), mode(f))
    }
    val expected = Map("644" -> ("644", "644"), "700" -> ("700", "700"), "755" -> ("755", "755"))
    expected.foreach { case (octal, want) =>
      val perm = Some(new FsPermission(Integer.parseInt(octal, 8).toShort))
      val got = made(ours, root, s"ours-$octal", perm)
      assert(got == made(stock, root, s"stock-$octal", perm), octal)
      assert(got == want, octal)
    }
    // the defaults, 0777 and 0666 under umask 022
    assert(made(ours, root, "ours-default", None) == ("755", "644"))
    assert(made(stock, root, "stock-default", None) == ("755", "644"))
    // a setgid parent: chmod keeps a new directory's inherited setgid bit,
    // which a POSIX permission set cannot express, so this takes the stock path
    val shared = Files.createDirectory(root.resolve("shared"))
    assert(new ProcessBuilder("chmod", "2755", shared.toString).start().waitFor() == 0)
    val perm = Some(new FsPermission(Integer.parseInt("755", 8).toShort))
    val inShared = made(ours, shared, "ours", perm)
    assert(inShared == made(stock, shared, "stock", perm))
    assert(inShared._1 == "2755", inShared)
  }

  test("link status matches stock Hadoop for a file, a symlink and a dangling symlink") {
    val dir = tmp("links")
    val file = Files.write(dir.resolve("file"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val ours = FileSystem.getLocal(new Configuration()).getRaw
    val stock = stockFs.getRaw
    def shape(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, Try(st.getSymlink).toOption, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
    def same(a: => FileStatus, b: => FileStatus, what: String): Unit = {
      val (x, y) = (Try(shape(a)).toEither.left.map(_.getClass), Try(shape(b)).toEither.left.map(_.getClass))
      assert(x == y, what)
    }
    // the bare path reads as a link; readlink on the file:/ form fails, so
    // stock Hadoop reports the target there, or no file for a dangling link
    for (j <- Seq(file, link, dangling); p <- Seq(new Path(j.toString), new Path(j.toUri))) {
      same(ours.getFileLinkStatus(p), stock.getFileLinkStatus(p), s"FileSystem $p")
      same(FileContext.getLocalFSFileContext(new Configuration()).getFileLinkStatus(p),
        stockFc.getFileLinkStatus(p), s"FileContext $p")
    }
    val bare = new Path(link.toString)
    assert(ours.getFileLinkStatus(bare).isSymlink)
    assert(ours.getLinkTarget(bare) == stock.getLinkTarget(bare))
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("CheckpointFileManager.createAtomic with overwrite replaces an existing file") {
    val dir = new Path(tmp("atomic").toString)
    val fm = CheckpointFileManager.create(dir, new Configuration())
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager], fm.getClass)
    val entry = new Path(dir, "entry")
    def write(s: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(entry, overwrite)
      out.write(s.getBytes(UTF_8)); out.close()
    }
    def read(): String = {
      val in = fm.open(entry)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    write("first", overwrite = false)
    write("second", overwrite = true)
    assert(read() == "second")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](write("third", overwrite = false))
    assert(read() == "second")
    assert(fm.list(dir).map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq == Seq("entry"))
  }

  test("a streaming drain on a local checkpoint starts no chmod or readlink process") {
    val src = tmp("drain-src").toString
    (0 until 20).map(i => (i.toLong, s"doc $i: ${AnnotationPipeline.DefaultTerms(i % 8)} and more"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val cfg = PipelineConfig(sourcePath = src, sinkPath = s"${tmp("drain-sink")}/annotations")
    val commands = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsDrainDone])
      rs.onEvent("jdk.ProcessStart", e => { commands.add(e.getString("command")); () })
      rs.onEvent(classOf[LocalFsDrainDone].getName, _ => marked.countDown())
      rs.startAsync()
      IngestJob.start(spark, cfg, new NlpService.MockTagger(AnnotationPipeline.DefaultTerms),
        tmp("drain-ckpt").toString).awaitTermination()
      // events arrive in order, so once the marker is in every fork before it is
      new LocalFsDrainDone().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the recording never delivered its marker")
    } finally rs.close()
    assert(spark.read.parquet(cfg.sinkPath).count() > 0)
    val forks = commands.asScala.toSeq.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
  }
}

/** Marks the end of the drain in [[LocalFsSpec]]'s recording. */
class LocalFsDrainDone extends jdk.jfr.Event
