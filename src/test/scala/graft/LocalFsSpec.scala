package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission

import graft.util.LocalFs

/** [[LocalFs]]: the session binds it for both Hadoop APIs, it leaves
  * the same files with the same modes and link statuses as stock
  * `LocalFileSystem`, keeps rename and checksum semantics, and starts
  * no child process per operation.
  */
class LocalFsSpec extends SparkSpec {

  private val Root = new URI("file:///")
  private lazy val conf = spark.sparkContext.hadoopConfiguration

  /** graft's and the stock checksummed `FileSystem`, built explicitly:
    * on this classpath the service-loaded `file:` class may be Hive's.
    */
  private lazy val graftFs: FileSystem = { val f = new LocalFs.Checksummed; f.initialize(Root, conf); f }
  private lazy val stockFs: FileSystem = { val f = new LocalFileSystem; f.initialize(Root, conf); f }

  private def dir(): String = graft.util.Scratch.dir("graft_localfs")

  /** Full mode bits (sticky included) as the kernel reports them. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the session binds graft's file: classes for both Hadoop APIs") {
    assert(FileSystem.get(Root, conf).isInstanceOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem
      .isInstanceOf[LocalFs.Context])
  }

  test("setPermission applies every mode 0000-0777, and a sticky-bit mode") {
    val f = s"${dir()}/f"
    Files.createFile(Paths.get(f))
    val notReadBack = (0 to 0x1ff).filter { m =>
      graftFs.setPermission(new Path(f), new FsPermission(m.toShort))
      mode(f) != m
    }.map(m => f"$m%04o")
    assert(notReadBack.isEmpty)
    val d = s"${dir()}/sticky"
    graftFs.mkdirs(new Path(d))
    graftFs.setPermission(new Path(d), new FsPermission(0x3ff.toShort))  // 01777
    assert(mode(d) == 0x3ff)
  }

  test("create and mkdirs leave the same modes as stock under the session umask") {
    val d = dir()
    def modes(fs: FileSystem, tag: String): Seq[Int] = {
      fs.create(new Path(s"$d/$tag/plain")).close()
      fs.create(new Path(s"$d/$tag/moded"), new FsPermission(0x1a0.toShort),  // 0640
        true, 4096, 1.toShort, 32L << 20, null).close()
      fs.mkdirs(new Path(s"$d/$tag/a/b"))
      fs.mkdirs(new Path(s"$d/$tag/m"), new FsPermission(0x1e8.toShort))  // 0750
      Seq("", "/plain", "/.plain.crc", "/moded", "/.moded.crc", "/a", "/a/b", "/m")
        .map(s => mode(s"$d/$tag$s"))
    }
    assert(modes(graftFs, "graft") == modes(stockFs, "stock"))
  }

  test("getFileLinkStatus matches stock for files, dirs, missing paths and symlinks") {
    val d = dir()
    Files.write(Paths.get(s"$d/file"), "x".getBytes(UTF_8))
    Files.createDirectory(Paths.get(s"$d/sub"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, if (s.isSymlink) s.getSymlink else null)
    for (name <- Seq("file", "sub", "link", "dangling")) {
      val p = new Path(s"$d/$name")
      assert(view(graftFs.getFileLinkStatus(p)) == view(stockFs.getFileLinkStatus(p)), name)
    }
    val link = graftFs.getFileLinkStatus(new Path(s"$d/link"))
    assert(link.isSymlink && link.getSymlink == new Path(s"file:$d/file"))
    assert(graftFs.getFileLinkStatus(new Path(s"$d/dangling")).isSymlink)
    for (fs <- Seq(graftFs, stockFs))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$d/missing")))
  }

  test("FileContext rename keeps NONE/OVERWRITE semantics; create writes the .crc sidecar") {
    val d = dir()
    val fc = FileContext.getFileContext(new LocalFs.Context(Root, conf), conf)
    def write(p: String, body: String): Unit = {
      val out = fc.create(new Path(p), java.util.EnumSet.of(CreateFlag.CREATE,
        CreateFlag.OVERWRITE), CreateOpts.createParent())
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
    write(s"$d/a", "new")
    write(s"$d/b", "old")
    intercept[FileAlreadyExistsException](fc.rename(new Path(s"$d/a"), new Path(s"$d/b"), Rename.NONE))
    fc.rename(new Path(s"$d/a"), new Path(s"$d/b"), Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(Paths.get(s"$d/b")), UTF_8) == "new")
    assert(!Files.exists(Paths.get(s"$d/a")))

    graftFs.create(new Path(s"$d/c")).close()
    assert(Files.exists(Paths.get(s"$d/.c.crc")))
  }

  test("200 create+rename cycles through both APIs start no child processes") {
    assume(Files.isReadable(Paths.get("/proc/stat")), "no /proc/stat")
    def processes(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().collectFirst {
        case l if l.startsWith("processes ") => l.split("\\s+")(1).toLong
      }.get finally src.close()
    }
    val d = dir()
    val fs = FileSystem.get(Root, conf)
    val fc = FileContext.getFileContext(Root, conf)
    def cycle(i: Int): Unit = {
      fs.create(new Path(s"$d/fs-$i.tmp")).close()
      fs.rename(new Path(s"$d/fs-$i.tmp"), new Path(s"$d/fs-$i"))
      fc.create(new Path(s"$d/fc-$i.tmp"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
      fc.rename(new Path(s"$d/fc-$i.tmp"), new Path(s"$d/fc-$i"), Rename.OVERWRITE)
    }
    cycle(-1)  // first-use class loading outside the count
    val before = processes()
    (0 until 200).foreach(cycle)
    val started = processes() - before
    assert(started < 50, s"$started processes started over 200 cycles")
  }
}
