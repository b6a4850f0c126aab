package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.lake.Archive
import graft.schema.{WeatherReading, WeatherStatus}
import graft.streaming.WeatherPipeline
import graft.util.{InProcessLocalFileSystem, InProcessLocalFs,
  InProcessRawLocalFileSystem, Scratch}

/** The session's `file:` filesystem ([[graft.util.InProcessLocalFileSystem]]
  * and [[graft.util.InProcessLocalFs]]): no child process on the write
  * path, and the same files, permissions and link answers as Hadoop's own
  * classes.
  */
class LocalFsSpec extends SparkSpec {

  /** The commands of the processes `body` starts through Hadoop's
    * `org.apache.hadoop.util.Shell`, from a JFR `jdk.ProcessStart`
    * recording with stack traces.
    */
  def hadoopShellStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile(Scratch.dir("jfr"), "process", ".jfr")
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally rec.close()
  }

  private def reading(station: Long, n: Long) =
    WeatherStatus(station, n, "high", new java.sql.Timestamp(n * 1000L),
      WeatherReading(40 + n.toInt, 20, 5))

  test("the probe sees the child processes of Hadoop's stock local filesystem") {
    assume(!NativeIO.isAvailable, "libhadoop loaded: Hadoop forks nothing")
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    val f = new Path(Files.createTempFile(Scratch.dir("probe"), "f", "").toString)
    val starts = hadoopShellStarts {
      stock.setPermission(f, new FsPermission("640"))
      stock.getFileLinkStatus(f)
    }
    assert(starts.exists(_.startsWith("chmod")), starts)
    assert(starts.exists(_.startsWith("readlink")), starts)
  }

  test("a checkpointed lake stream and a latest fork start no process through Hadoop") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val starts = hadoopShellStarts {
      val lakeIn = MemoryStream[WeatherStatus](2)
      val lake = Archive.writeStream(lakeIn.toDF(), tmpDir("localfs_lake") + "/lake",
        tmpDir("localfs_lake_ck"), triggerMs = 100L).start()
      try (1L to 3L).foreach { n =>
        lakeIn.addData((1L to 3L).map(reading(_, n)): _*)
        lake.processAllAvailable()
      } finally lake.stop()
      assert(lake.recentProgress.count(_.numInputRows > 0) == 3)

      val latestIn = MemoryStream[WeatherStatus](2)
      val latest = WeatherPipeline.startLatest(latestIn.toDF(), "localfs_latest")
      try (1L to 2L).foreach { n =>
        latestIn.addData((1L to 3L).map(reading(_, n)): _*)
        latest.processAllAvailable()
      } finally latest.stop()
      assert(spark.table("localfs_latest").count() == 3)
    }
    assert(starts.isEmpty, s"${starts.size} starts: ${starts.distinct.take(5)}")
  }

  test("the session resolves the in-process classes for file: paths") {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = URI.create("file:///")
    val fs = FileSystem.get(uri, conf)
    assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[InProcessRawLocalFileSystem])
    val afs = AbstractFileSystem.get(uri, conf)
    assert(afs.isInstanceOf[InProcessLocalFs], afs.getClass)
    assert(spark.sessionState.newHadoopConf().get("fs.AbstractFileSystem.file.impl") ==
      classOf[InProcessLocalFs].getName)
  }

  /** Stock and in-process filesystems over one configuration. */
  private def pair(conf: Configuration = new Configuration())
      : (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    val ours = new InProcessLocalFileSystem()
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), conf))
    (stock, ours)
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  test("create, mkdirs and setPermission leave the modes Hadoop's class leaves") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val (stock, ours) = pair(conf)
    val umask = FsPermission.getUMask(conf)
    val modes = Seq(stock, ours).map { fs =>
      val dir = Scratch.dir("fs_modes")
      val file = new Path(dir.toString, "part.parquet")
      fs.create(file).close()
      fs.mkdirs(new Path(dir.toString, "d"), FsPermission.getDirDefault.applyUMask(umask))
      Seq(mode(dir.resolve("part.parquet")), mode(dir.resolve(".part.parquet.crc")),
        mode(dir.resolve("d")))
    }
    assert(modes(0) == modes(1))
    assert(modes(1) == Seq(Integer.parseInt("640", 8), Integer.parseInt("640", 8),
      Integer.parseInt("750", 8)))
    // every rwx combination maps to the same mode bits
    val raw = Seq(new RawLocalFileSystem(), new InProcessRawLocalFileSystem())
    raw.foreach(_.initialize(URI.create("file:///"), conf))
    val files = raw.map(_ => Files.createTempFile(Scratch.dir("fs_chmod"), "f", ""))
    (0 until 512).foreach { bits =>
      val set = raw.zip(files).map { case (fs, f) =>
        fs.setPermission(new Path(f.toString), new FsPermission(bits.toShort))
        mode(f)
      }
      assert(set == Seq(bits, bits), f"mode 0$bits%o")
    }
  }

  test("a sticky-bit directory keeps its sticky bit") {
    val (_, ours) = pair()
    val dir = Scratch.dir("fs_sticky").resolve("shared")
    val p = new Path(dir.toString)
    assert(ours.mkdirs(p))
    ours.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    assert(ours.getFileStatus(p).getPermission.getStickyBit)
  }

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(a.getPath == b.getPath)
    assert((a.isDirectory, a.isSymlink, a.getLen, a.getModificationTime,
      a.getPermission) == (b.isDirectory, b.isSymlink, b.getLen,
      b.getModificationTime, b.getPermission))
    if (a.isSymlink) assert(a.getSymlink == b.getSymlink)
  }

  test("getFileLinkStatus answers as Hadoop's class: file, symlink, missing path") {
    val (stock, ours) = pair()
    val dir = Scratch.dir("fs_links")
    val file = Files.write(dir.resolve("target.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), file)
    val f = new Path(file.toString)
    same(ours.getFileLinkStatus(f), ours.getFileStatus(f))
    same(ours.getFileLinkStatus(f), stock.getFileLinkStatus(f))
    assert(!ours.getFileLinkStatus(f).isSymlink)

    val l = new Path(link.toString)
    val st = ours.getFileLinkStatus(l)
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == file.toString)
    same(st, stock.getFileLinkStatus(l))

    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("managed tables land under the scratch root, not the working directory") {
    import spark.implicits._
    graft.operators.Scale.writeBucketed(Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v"),
      "localfs_bkt", "k", nBuckets = 2)
    try {
      val loc = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier("localfs_bkt")).location
      assert(Paths.get(loc).startsWith(Scratch.root), loc)
      assert(spark.table("localfs_bkt").count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS localfs_bkt")
  }
}
