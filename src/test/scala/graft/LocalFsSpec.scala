package graft

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.util.Try

/** [[NioRawLocalFileSystem]] answers as Hadoop's stock
  * `RawLocalFileSystem` does, and the session's checksummed `file:`
  * filesystems keep checksums and rename-without-overwrite.
  */
class LocalFsSpec extends SparkTestBase {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val nio = raw(new NioRawLocalFileSystem)
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val root = Files.createTempDirectory("localfs")

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** Every field a caller can read, so two statuses compare by value
    * (`FileStatus.equals` compares paths only).
    */
  private def fields(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, Try(s.getSymlink).toOption, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus matches stock for files, dirs, symlinks and missing paths") {
    val d = Files.createDirectory(root.resolve("link-status"))
    val file = Files.write(d.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    for {
      p <- Seq(file, dir, link, dangling, missing)
      hp <- Seq(new Path(p.toUri), new Path(p.toString)) // file:/… and /…
    } {
      (Try(stock.getFileLinkStatus(hp)), Try(nio.getFileLinkStatus(hp))) match {
        case (scala.util.Success(a), scala.util.Success(b)) =>
          assert(fields(b) === fields(a), s"status of $hp")
        case (scala.util.Failure(a), scala.util.Failure(b)) =>
          assert(b.getClass === a.getClass, s"error of $hp")
        case (a, b) => fail(s"$hp: stock $a, nio $b")
      }
    }
    // the sweep covers symlink answers as well as plain ones
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(missing.toUri)))
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(dangling.toUri)))
  }

  test("setPermission leaves the same bits on disk as stock chmod") {
    val d = Files.createDirectory(root.resolve("perms"))
    for (m <- Seq("644", "755", "700", "600", "777"); kind <- Seq("file", "dir")) {
      def target(tag: String) = {
        val p = d.resolve(s"$kind-$m-$tag")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
      }
      val (a, b) = (target("stock"), target("nio"))
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(mode(b) === mode(a), s"$kind $m")
      assert(Files.getPosixFilePermissions(b) === Files.getPosixFilePermissions(a), s"$kind $m")
      assert((mode(b) & 0x1ff) === Integer.parseInt(m, 8), s"$kind $m")
    }
  }

  test("setPermission takes the stock path for the sticky bit and setgid dirs") {
    val d = Files.createDirectory(root.resolve("special"))
    // NIO cannot set the sticky bit: seeing it on disk shows chmod ran
    val sticky = Files.createDirectory(d.resolve("sticky"))
    nio.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(sticky) % 4096 === Integer.parseInt("1777", 8))
    // chmod with 4 octal digits keeps a directory's setgid bit; NIO's
    // chmod(2) with 9 bits would clear it
    val (a, b) = (Files.createDirectory(d.resolve("sgid-stock")),
      Files.createDirectory(d.resolve("sgid-nio")))
    for (p <- Seq(a, b))
      assert(new ProcessBuilder("chmod", "2755", p.toString).start().waitFor() === 0)
    val perm = new FsPermission(Integer.parseInt("700", 8).toShort)
    stock.setPermission(new Path(a.toUri), perm)
    nio.setPermission(new Path(b.toUri), perm)
    assert(mode(b) === mode(a))
    assert(mode(b) % 4096 === Integer.parseInt("2700", 8))
  }

  test("the session's file: FileSystem writes and verifies .crc checksums") {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = Files.createDirectory(root.resolve("crc"))
    val p = new Path(d.resolve("data.bin").toUri)
    val fs = p.getFileSystem(conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    val out = fs.create(p)
    try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
    assert(Files.exists(d.resolve(".data.bin.crc")), "checksum sibling written")
    val raf = new RandomAccessFile(d.resolve("data.bin").toFile, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = fs.open(p)
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096)))
    finally in.close()
  }

  test("the session's FileContext keeps checksums and rename-without-overwrite") {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = Files.createDirectory(root.resolve("fc"))
    val fc = FileContext.getFileContext(d.toUri, conf)
    assert(fc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    def write(name: String, bytes: Array[Byte]): Path = {
      val p = new Path(d.resolve(name).toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(bytes) finally out.close()
      p
    }
    val src = write("src", "new".getBytes)
    val dst = write("dst", "old".getBytes)
    assert(Files.exists(d.resolve(".src.crc")) && Files.exists(d.resolve(".dst.crc")))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(new String(Files.readAllBytes(d.resolve("dst"))) === "old", "target untouched")
    assert(Files.exists(d.resolve("src")), "source untouched")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(d.resolve("dst"))) === "new")
    assert(!Files.exists(d.resolve("src")) && !Files.exists(d.resolve(".src.crc")))
    assert(Files.exists(d.resolve(".dst.crc")), "the checksum moves with the file")
  }
}
