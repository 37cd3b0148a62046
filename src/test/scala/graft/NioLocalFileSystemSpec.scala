package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.KinesisLikePipeline
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  CreateFlag,
  FileAlreadyExistsException,
  FileContext,
  FileStatus,
  FileSystem,
  LocalFileSystem,
  Options,
  Path,
  RawLocalFileSystem
}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.graft.Bridge
import org.scalatest.BeforeAndAfterAll

/** The process-free `file:` file system keeps Hadoop's local semantics
  * (each case runs Hadoop's own classes beside graft's on the same
  * files), starts no process in a stream drain, and is what a graft
  * session resolves `file:` to.
  */
class NioLocalFileSystemSpec extends SparkSpecBase with BeforeAndAfterAll {

  private lazy val root: JPath              = Files.createTempDirectory("graft-localfs-spec")
  private def dir(name: String): JPath      = Files.createDirectory(root.resolve(name))
  private def hpath(p: JPath): Path         = new Path(p.toString)
  private def mode(p: JPath): Int           = Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff
  private def perms(p: JPath): String       = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  override def afterAll(): Unit =
    try deleteTree(root)
    finally super.afterAll()

  /** `fs` initialized on `file:///` with a 027 umask, outside Hadoop's cache. */
  private def fresh[F <: FileSystem](fs: F): F = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("created files and mkdirs directories get Hadoop's mode bits, umask applied") {
    def layout(fs: FileSystem, base: JPath): Map[String, String] = {
      fs.mkdirs(hpath(base.resolve("a/b")), new FsPermission("777"))
      fs.create(hpath(base.resolve("a/b/f")), new FsPermission("666"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(hpath(base.resolve("c/g"))).close() // default mode, parent made on the way
      val w = Files.walk(base)
      try w.iterator().asScala.map(p => base.relativize(p).toString -> perms(p)).toMap
      finally w.close()
    }
    val hadoop = layout(fresh(new LocalFileSystem()), dir("modes-hadoop"))
    val nio    = layout(fresh(new NioLocalFileSystem()), dir("modes-nio"))
    assert(nio == hadoop)
    assert(nio("a/b") == "rwxr-x---" && nio("a/b/f") == "rw-r-----" && nio("c/g") == "rw-r-----", s"$nio")
    assert(nio("a/b/.f.crc") == "rw-r-----", s"$nio")
  }

  test("a sticky-bit mode goes through Hadoop, and a listing reports it as ls -ld does") {
    val parent = dir("sticky")
    val d      = Files.createDirectory(parent.resolve("d"))
    fresh(new NioRawLocalFileSystem()).setPermission(hpath(d), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(d) == Integer.parseInt("1750", 8), f"mode ${mode(d)}%o")
    def listed(fs: FileSystem): FsPermission = fs.listStatus(hpath(parent)).head.getPermission
    val nio = listed(fresh(new NioRawLocalFileSystem()))
    assert(nio.getStickyBit && nio == listed(fresh(new RawLocalFileSystem())), s"$nio")
  }

  test("getFileLinkStatus reports a symbolic link and its target, and a plain file as its status") {
    val d      = dir("links")
    val target = Files.write(d.resolve("target"), "x".getBytes)
    val link   = Files.createSymbolicLink(d.resolve("link"), target)
    val (nio, hadoop) = (fresh(new NioRawLocalFileSystem()), fresh(new RawLocalFileSystem()))
    val st = nio.getFileLinkStatus(hpath(link))
    assert(st.isSymlink && st.getSymlink == hadoop.getFileLinkStatus(hpath(link)).getSymlink, s"$st")
    assert(st.getSymlink.toUri.getPath == target.toString, s"$st")
    val plain = nio.getFileLinkStatus(hpath(target))
    assert(!plain.isSymlink && plain == hadoop.getFileLinkStatus(hpath(target)) && plain.getLen == 1L)
    intercept[FileNotFoundException](nio.getFileLinkStatus(hpath(d.resolve("missing"))))
  }

  test("FileContext rename without overwrite still refuses an existing destination") {
    val conf = new Configuration()
    Bridge.hadoopConfIfMissing(conf, NioLocalFileSystem.HadoopDefaults)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val d = dir("rename")
    def write(name: String, body: String): Path = {
      val out = fc.create(hpath(d.resolve(name)), EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes)
      finally out.close()
      hpath(d.resolve(name))
    }
    val (a, b) = (write("a", "new"), write("b", "old"))
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    assert(new String(Files.readAllBytes(d.resolve("b"))) == "old")
    fc.rename(a, hpath(d.resolve("c")), Options.Rename.NONE)
    assert(Files.exists(d.resolve("c")) && Files.exists(d.resolve(".c.crc")))
    assert(!Files.exists(d.resolve("a")) && !Files.exists(d.resolve(".a.crc")))
  }

  test("a listed file's permission, owner and group are what Files.readAttributes reads") {
    val d = dir("listing")
    Files.createDirectory(d.resolve("sub"))
    Seq("x", "sub/y").foreach(n => Files.write(d.resolve(n), n.getBytes))
    Files.setPosixFilePermissions(d.resolve("x"), PosixFilePermissions.fromString("rw-r-x--x"))
    val nio    = fresh(new NioLocalFileSystem())
    val hadoop = fresh(new LocalFileSystem())
    def ownership(st: FileStatus): (String, String, String) =
      (st.getPermission.toString, st.getOwner, st.getGroup)
    val statuses = nio.listStatus(hpath(d)).toSeq ++ {
      val it = nio.listFiles(hpath(d), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).toSeq
    }
    assert(statuses.map(_.getPath.getName).toSet == Set("x", "sub", "y"))
    statuses.foreach { st =>
      val p     = new java.io.File(st.getPath.toUri).toPath
      val attrs = Files.readAttributes(p, classOf[PosixFileAttributes])
      assert(ownership(st) == ((PosixFilePermissions.toString(attrs.permissions), attrs.owner.getName, attrs.group.getName)))
      assert(ownership(st) == ownership(hadoop.getFileStatus(st.getPath)), s"${st.getPath}")
    }
  }

  /** Stack traces of the threads started under Hadoop's
    * `Shell.runCommand` while `body` runs: it starts one for every
    * process it launches.
    */
  private def shellLaunchesDuring(body: => Unit): Seq[String] = {
    val launches = new ConcurrentLinkedQueue[String]
    val marker   = s"graft-jfr-marker-${System.nanoTime}"
    val flushed  = new CountDownLatch(1)
    val rs       = new RecordingStream()
    try {
      rs.enable("jdk.ThreadStart").withStackTrace()
      rs.onEvent("jdk.ThreadStart", e => {
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
        val names  = frames.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (names.contains("org.apache.hadoop.util.Shell.runCommand")) launches.add(names.mkString(" < "))
        if (Option(e.getThread("thread")).exists(_.getJavaName == marker)) flushed.countDown()
      })
      rs.startAsync()
      body
      // a thread started after `body` marks the point the stream must reach
      val t = new Thread(() => (), marker)
      t.start()
      t.join()
      assert(flushed.await(60, TimeUnit.SECONDS), "JFR stream never delivered the end marker")
    } finally rs.close()
    launches.asScala.toSeq
  }

  test("a stream drain and its read-back start no process") {
    val launches = shellLaunchesDuring {
      val rows = KinesisLikePipeline.problemStreamToStore(spark, numRows = 400, rowsPerBatch = 200).collect()
      assert(rows.length == 400)
    }
    assert(launches.isEmpty, s"${launches.size} Hadoop shell launches, first: ${launches.headOption}")
  }

  test("a graft session resolves file: to graft's FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("an explicit fs.file.impl keeps its value; Hadoop's core-default LocalFs does not") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName, "spark.hadoop")
    assert(conf.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.LocalFs")
    Bridge.hadoopConfIfMissing(conf, NioLocalFileSystem.HadoopDefaults)
    assert(conf.get("fs.file.impl") == classOf[LocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
    val plain = new Configuration()
    Bridge.hadoopConfIfMissing(plain, NioLocalFileSystem.HadoopDefaults)
    assert(plain.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
  }
}
