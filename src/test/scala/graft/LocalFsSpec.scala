package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

/** graft's local filesystem ([[NioRawLocalFileSystem]]): what
  * `Graft.builder` sessions resolve `file:` to, that it reads and writes
  * the same permissions as Hadoop's stock class, and that it starts no
  * child process where the stock class forks `chmod` and `readlink`. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def graftFs: FileSystem = FileSystem.get(URI.create("file:///"), conf)

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def withTempDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def perms(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The child processes this JVM starts while `body` runs, seen by a
    * poller that lists the JVM's descendants every millisecond. */
  private def childrenStarted(body: => Unit): Int = {
    def pids = ProcessHandle.current().descendants().iterator().asScala.map(_.pid)
    val before = pids.toSet
    val seen = ConcurrentHashMap.newKeySet[Long]()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      pids.filterNot(before).foreach(seen.add)
      Thread.sleep(1)
    })
    poller.setDaemon(true)
    poller.start()
    try body finally { polling = false; poller.join() }
    seen.size
  }

  test("a Graft.builder session resolves both local filesystem APIs to graft's classes") {
    assert(graftFs.getClass === classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[GraftLocalFs])
  }

  test("created files, checksum files and directories carry the stock permissions") {
    withTempDir { dir =>
      def layout(fs: FileSystem, name: String): Seq[String] = {
        val root = new Path(dir.resolve(name).toUri)
        fs.mkdirs(new Path(root, "sub/deeper"))
        fs.create(new Path(root, "sub/file.txt")).close()
        Seq("sub", "sub/deeper", "sub/file.txt", "sub/.file.txt.crc")
          .map(rel => s"$rel ${perms(dir.resolve(name).resolve(rel))}")
      }
      val graft = layout(graftFs, "graft")
      assert(graft === layout(stockFs, "stock"))
      assert(graft.last === "sub/.file.txt.crc rw-r--r--")
    }
  }

  test("an explicit setPermission reads back through java.nio") {
    withTempDir { dir =>
      val f = dir.resolve("f")
      Files.createFile(f)
      val fs = graftFs
      fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("600", 8).toShort))
      assert(perms(f) === "rw-------")
      fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(perms(f) === "rwxr-x---")
    }
  }

  test("getFileLinkStatus: a file's status, a symlink's target, a missing path's error") {
    withTempDir { dir =>
      val fs = graftFs
      val file = dir.resolve("file.txt")
      Files.write(file, "abc".getBytes)
      val filePath = new Path(file.toUri)
      assert(fs.getFileLinkStatus(filePath).toString === fs.getFileStatus(filePath).toString)

      // Hadoop's own code reads the link through `readlink` of the path's
      // string form, so only a scheme-less path shows it as a link
      val link = new Path(Files.createSymbolicLink(dir.resolve("link"), file).toString)
      val linkStatus = fs.getFileLinkStatus(link)
      assert(linkStatus.isSymlink)
      assert(linkStatus.getSymlink.toUri.getPath === file.toString)
      assert(linkStatus.toString === stockFs.getFileLinkStatus(link).toString)

      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("absent").toUri)))
    }
  }

  test("200 creates and FileContext overwrite-renames start no child process") {
    withTempDir { dir =>
      def creates(fs: FileSystem, name: String): Unit =
        (1 to 200).foreach(i => fs.create(new Path(dir.resolve(s"$name-$i").toUri)).close())
      val fc = FileContext.getLocalFSFileContext(conf)
      val graftForks = childrenStarted {
        creates(graftFs, "graft")
        // the streaming checkpoint commit: write a temp file, rename it over
        (1 to 50).foreach { i =>
          val tmp = new Path(dir.resolve(s".commit-$i.tmp").toUri)
          fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close()
          fc.rename(tmp, new Path(dir.resolve("commit").toUri), Options.Rename.OVERWRITE)
        }
      }
      assert(graftForks === 0)
      // positive control: without the native library the stock class forks
      // `chmod` for the same creates (with it, native code does the chmod)
      if (!NativeIO.isAvailable) assert(childrenStarted(creates(stockFs, "stock")) > 0)
    }
  }
}
