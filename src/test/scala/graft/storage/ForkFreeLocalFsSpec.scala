package graft.storage

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem behaves as the stock one: modes,
  * checksums, link status and renames. The stock classes are what a
  * plain Hadoop conf resolves on this classpath: Hive's
  * `ProxyLocalFileSystem` (found by ServiceLoader) and Hadoop's
  * `local.LocalFs`. Every instance is built here from its own conf, so
  * the JVM's `FileSystem` cache (whose first `file:` entry wins for
  * every session) does not matter.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def conf(forkFree: Boolean): Configuration = {
    val c = new Configuration()
    if (forkFree) {
      c.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    }
    c
  }

  private def withFs[T](forkFree: Boolean)(body: FileSystem => T): T = {
    val fs = FileSystem.newInstance(URI.create("file:///"), conf(forkFree))
    try body(fs) finally fs.close()
  }

  private def context(forkFree: Boolean): FileContext =
    FileContext.getFileContext(URI.create("file:///"), conf(forkFree))

  private def tmp(): String = Files.createTempDirectory("graft-ffs").toString

  /** The full mode bits, sticky, setuid and setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(fs: FileSystem, p: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(p))
    try out.write(bytes) finally out.close()
  }

  private def readAll(fs: FileSystem, p: String): Array[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  test("the settings select the fork-free classes in place of the stock ones") {
    withFs(forkFree = true)(fs => assert(fs.isInstanceOf[ForkFreeLocalFileSystem]))
    assert(context(forkFree = true).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    withFs(forkFree = false)(fs => assert(fs.isInstanceOf[LocalFileSystem] &&
      !fs.isInstanceOf[ForkFreeLocalFileSystem]))
    assert(context(forkFree = false).getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
  }

  test("FileSystem.rename refuses to replace a file, as the stock class") {
    def transcript(forkFree: Boolean): Seq[String] = withFs(forkFree) { fs =>
      val d = tmp()
      write(fs, s"$d/a", Array[Byte](1))
      write(fs, s"$d/b", Array[Byte](2, 2))
      fs.mkdirs(new Path(s"$d/dir"))
      def rename(src: String, dst: String): String =
        try s"$src->$dst=${fs.rename(new Path(s"$d/$src"), new Path(s"$d/$dst"))}"
        catch { case e: java.io.IOException => s"$src->$dst=${e.getClass.getSimpleName}" }
      Seq(rename("a", "b"), rename("a", "fresh"), rename("fresh", "dir"), rename("missing", "c"),
        new java.io.File(d).list().sorted.mkString(","),
        new java.io.File(s"$d/dir").list().sorted.mkString(","))
    }
    val ours = transcript(forkFree = true)
    assert(ours.take(2) == Seq("a->b=false", "a->fresh=true"))
    assert(ours == transcript(forkFree = false))
  }

  test("created files and dirs get 0666/0777 minus the umask, as on the stock class") {
    val umask = FsPermission.getUMask(conf(forkFree = true)).toShort
    def modes(forkFree: Boolean): Seq[Int] = withFs(forkFree) { fs =>
      val d = tmp()
      write(fs, s"$d/a/b/file", Array[Byte](1, 2, 3))
      val fc = context(forkFree)
      fc.mkdir(new Path(s"$d/fc-dir"), FsPermission.getDirDefault, true)
      fc.create(new Path(s"$d/fc-dir/file"), EnumSet.of(CreateFlag.CREATE)).close()
      Seq(mode(s"$d/a"), mode(s"$d/a/b"), mode(s"$d/a/b/file"), mode(s"$d/a/b/.file.crc"),
        mode(s"$d/fc-dir"), mode(s"$d/fc-dir/file"), mode(s"$d/fc-dir/.file.crc"))
    }
    val ours = modes(forkFree = true)
    val dir = 0x1ff & ~umask
    val file = 0x1b6 & ~umask
    assert(ours == Seq(dir, dir, file, file, dir, file, file))
    assert(ours == modes(forkFree = false))
  }

  test("a mode above 0777 goes through the stock chmod") {
    def modes(forkFree: Boolean): Seq[Int] = withFs(forkFree) { fs =>
      val d = new Path(tmp(), "sticky")
      fs.mkdirs(d)
      Seq("1777", "0700", "1750").map { m =>
        fs.setPermission(d, new FsPermission(Integer.parseInt(m, 8).toShort))
        mode(d.toString)
      }
    }
    val ours = modes(forkFree = true)
    assert(ours == Seq("1777", "0700", "1750").map(Integer.parseInt(_, 8)))
    assert(ours == modes(forkFree = false))
  }

  test(".crc sidecars are written, and a corrupted byte fails the read") {
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def corrupt(f: java.nio.file.Path): Unit = {
      val raw = Files.readAllBytes(f)
      raw(100) = (raw(100) ^ 0xff).toByte
      Files.write(f, raw)
    }
    withFs(forkFree = true) { fs =>
      val d = tmp()
      write(fs, s"$d/data", bytes)
      assert(Files.exists(Paths.get(s"$d/.data.crc")))
      assert(readAll(fs, s"$d/data").sameElements(bytes))
      corrupt(Paths.get(s"$d/data"))
      intercept[ChecksumException](readAll(fs, s"$d/data"))
    }
    def contextRead(forkFree: Boolean, bufferSize: Option[Int]): String = {
      val fc = context(forkFree)
      val d = tmp()
      val p = new Path(s"$d/data")
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(bytes) finally out.close()
      assert(Files.exists(Paths.get(s"$d/.data.crc")))
      corrupt(Paths.get(s"$d/data"))
      try {
        val in = bufferSize.fold(fc.open(p))(fc.open(p, _))
        try in.readAllBytes() finally in.close()
        "read"
      } catch { case e: java.io.IOException => e.getClass.getSimpleName }
    }
    assert(contextRead(forkFree = true, Some(4096)) == contextRead(forkFree = false, Some(4096)))
    assert(contextRead(forkFree = true, Some(4096)) == "ChecksumException")
    // without a buffer size (as Spark's checkpoint manager opens files)
    // the stock LocalFs inherits FilterFs.open(Path), which skips
    // ChecksumFs's reader; the fork-free one verifies there too
    assert(contextRead(forkFree = false, None) == "read")
    assert(contextRead(forkFree = true, None) == "ChecksumException")
  }

  test("link status: a symlink still reports isSymlink, the rest as the stock class") {
    val d = tmp()
    Files.writeString(Paths.get(s"$d/target"), "x")
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/target"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/missing"))
    val paths = Seq(s"$d/link", s"file:$d/link", s"$d/dangling", s"$d/target",
      s"file:$d/target", d)
    def statuses(forkFree: Boolean): Seq[(Boolean, Boolean, Long)] = withFs(forkFree) { fs =>
      paths.map { p =>
        val st = fs.getFileLinkStatus(new Path(p))
        (st.isSymlink, st.isDirectory, if (st.isDirectory) 0L else st.getLen)
      }
    }
    val ours = statuses(forkFree = true)
    assert(ours.head._1 && ours(2)._1, "a symlink lost isSymlink")
    assert(!ours(3)._1 && !ours(5)._1)
    assert(ours == statuses(forkFree = false))
    withFs(forkFree = true) { fs =>
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(s"$d/none")))
    }
  }

  test("FileContext.rename with and without OVERWRITE behaves as on stock LocalFs") {
    def transcript(forkFree: Boolean): Seq[String] = {
      val fc = context(forkFree)
      val d = tmp()
      def put(name: String, text: String): Unit = {
        val out = fc.create(new Path(s"$d/$name"),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      def attempt(src: String, dst: String, opts: Options.Rename*): String =
        try { fc.rename(new Path(s"$d/$src"), new Path(s"$d/$dst"), opts: _*); "ok" }
        catch { case e: java.io.IOException => e.getClass.getSimpleName }
      def listing: String = {
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        Files.walk(Paths.get(d)).forEach { p =>
          val rel = Paths.get(d).relativize(p).toString
          if (rel.nonEmpty) names += (if (Files.isDirectory(p)) s"$rel/"
            else s"$rel=${Files.size(p)}")
        }
        names.sorted.mkString(",")
      }
      put("a", "one"); put("b", "second"); put("dir/c", "x")
      Seq(
        attempt("a", "fresh"), listing,
        attempt("fresh", "b"), listing,
        attempt("fresh", "b", Options.Rename.OVERWRITE), listing,
        attempt("missing", "b", Options.Rename.OVERWRITE), listing,
        attempt("b", "dir", Options.Rename.OVERWRITE), listing,
        attempt("dir", "moved"), listing)
    }
    val ours = transcript(forkFree = true)
    assert(ours.head == "ok" && ours(2) == "FileAlreadyExistsException" && ours(4) == "ok")
    assert(ours(5).contains("b=3"), "OVERWRITE did not replace the target")
    assert(!ours(5).contains("fresh"), "the renamed file is still there")
    assert(ours(5).contains(".b.crc"), "the checksum did not follow the rename")
    assert(ours == transcript(forkFree = false))
  }
}
