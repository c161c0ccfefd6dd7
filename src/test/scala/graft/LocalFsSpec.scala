package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalFs

/** The engine's `file:` filesystem: what engine sessions resolve, that it
  * gives exactly the mode bits and rename results of Hadoop's own local
  * filesystem, and that it sets them without launching a process. */
class LocalFsSpec extends AnyFunSuite with TempDirs {

  lazy val spark = SparkTestSession()

  private def init(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Permission, setuid, setgid and sticky bits of `f`. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def path(f: File): Path = new Path(f.toURI)

  test("engine sessions resolve file: to LocalFs, a LocalFileSystem") {
    val tmp = tempDir("localfs").getPath
    val fs = new Path(tmp).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFs])
    assert(fs.isInstanceOf[LocalFileSystem])
  }

  test("create and mkdirs give the mode bits of Hadoop's LocalFileSystem") {
    for ((umask, dir, file, grp) <- Seq(("022", 0x1ed, 0x1a4, 0x1a0),
        ("077", 0x1c0, 0x180, 0x180))) {
      val root = tempDir("localfs-mode")
      def made(fs: LocalFileSystem, side: String): Seq[(String, Int)] = {
        val d = new File(root, side)
        assert(fs.mkdirs(path(new File(d, "a/b"))))
        fs.create(path(new File(d, "a/f"))).close()
        fs.create(path(new File(d, "g")), new FsPermission(0x1a0.toShort),
          true, 4096, 1.toShort, 1L << 20, null).close()
        Seq("", "a", "a/b", "a/f", "a/.f.crc", "g", ".g.crc")
          .map(n => n -> mode(new File(d, n)))
      }
      val stock = made(init(new LocalFileSystem, umask), "stock")
      val ours = made(init(new LocalFs, umask), "ours")
      assert(ours == stock, s"umask $umask")
      assert(ours.toMap.apply("a/b") == dir && ours.toMap.apply("a/f") == file &&
        ours.toMap.apply("g") == grp, s"umask $umask")
    }
  }

  test("a setgid directory keeps its bits as Hadoop's LocalFileSystem keeps them") {
    val root = tempDir("localfs-setgid")
    def made(fs: LocalFileSystem, side: String): Seq[(String, Int)] = {
      val d = new File(root, side)
      assert(d.mkdir())
      assert(new ProcessBuilder("chmod", "2775", d.getPath)
        .inheritIO().start().waitFor() == 0)
      assert(mode(d) == 0x5fd) // 02775
      assert(fs.mkdirs(path(new File(d, "sub/inner"))))
      fs.create(path(new File(d, "sub/f"))).close()
      Seq("", "sub", "sub/inner", "sub/f").map(n => n -> mode(new File(d, n)))
    }
    val stock = made(init(new LocalFileSystem, "022"), "stock")
    val ours = made(init(new LocalFs, "022"), "ours")
    assert(ours == stock)
    // a new directory inherits setgid, and numeric chmod 0755 keeps it
    assert(ours.toMap.apply("sub/inner") == 0x5ed) // 02755
  }

  test("a sticky-bit request is applied") {
    val root = tempDir("localfs-sticky")
    for ((fs, side) <- Seq(init(new LocalFileSystem, "022") -> "stock",
        init(new LocalFs, "022") -> "ours")) {
      val d = new File(root, side)
      assert(fs.mkdirs(path(d)))
      fs.setPermission(path(d), new FsPermission(0x3ff.toShort)) // 01777
      assert(mode(d) == 0x3ff, side)
    }
  }

  test("a rename onto an existing file returns false and keeps that file") {
    val fs = init(new LocalFs, "022")
    val root = tempDir("localfs-rename")
    def write(n: String, s: String): Unit = {
      val os = fs.create(path(new File(root, n)))
      try os.write(s.getBytes("UTF-8")) finally os.close()
    }
    def read(n: String): String =
      new String(Files.readAllBytes(new File(root, n).toPath), "UTF-8")
    write("new", "new")
    write("old", "old")
    assert(!fs.rename(path(new File(root, "new")), path(new File(root, "old"))))
    assert(read("old") == "old" && read("new") == "new")
    assert(fs.rename(path(new File(root, "new")), path(new File(root, "moved"))))
    assert(read("moved") == "new")
    assert(new File(root, ".moved.crc").exists && !new File(root, ".new.crc").exists)
  }

  test("200 creates and mkdirs launch no process") {
    val stat = new File("/proc/stat")
    assume(stat.canRead, "the kernel's process counter is not readable")
    // forks since boot, threads included, of the whole machine
    def launched(): Long = {
      val src = scala.io.Source.fromFile(stat)
      try src.getLines().collectFirst {
        case l if l.startsWith("processes ") => l.split("\\s+")(1).toLong
      }.get
      finally src.close()
    }
    def count(fs: LocalFileSystem): Long = {
      val root = tempDir("localfs-forks")
      val before = launched()
      for (i <- 0 until 200) {
        fs.create(path(new File(root, s"f$i"))).close()
        fs.mkdirs(path(new File(root, s"d$i")))
      }
      launched() - before
    }
    val ours = count(init(new LocalFs, "022"))
    assert(ours < 100)
    // the counter sees Hadoop's chmod launches where they happen
    if (!NativeIO.isAvailable) assert(count(init(new LocalFileSystem, "022")) >= 800)
  }
}
