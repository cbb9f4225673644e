package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The spawn-free local filesystem against Hadoop's stock one, without a
  * Spark session: same modes, same link statuses, same rename rules, and
  * files (with their `.crc` sidecars) each side reads back.
  */
class LocalFsSpec extends AnyFunSuite {

  /** umask 000, so every mode bit reaches `setPermission` */
  private val conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "000")
    c
  }
  private val local = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, conf); fs }
  private def stock: FileSystem = init(new LocalFileSystem())
  private def nio: FileSystem = init(new NioLocalFileSystem)

  private def tmp(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private val modes = Seq("0000", "0400", "0600", "0644", "0755", "0777")

  test("create and mkdirs set the same modes as the stock filesystem") {
    val dir = tmp("localfs-mode")
    for (m <- modes; (name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      fs.create(new Path(s"$dir/$m-$name.bin"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(s"$dir/$m-$name.d"), perm))
    }
    for (m <- modes; f <- Seq("%s.bin", ".%s.bin.crc", "%s.d")) {
      val Seq(want, got) = Seq("stock", "nio").map(n => mode(dir.resolve(f.format(s"$m-$n"))))
      assert(got === want, f.format(m))
    }
    for (m <- modes; f <- Seq("%s.bin", "%s.d"))
      assert(mode(dir.resolve(f.format(s"$m-nio"))) ===
        new FsPermission(Integer.parseInt(m, 8).toShort).toString, f.format(m))
  }

  test("a sticky mode takes the stock chmod path") {
    // create and mkdirs drop the sticky bit with the umask; only an explicit
    // setPermission passes it, and NIO cannot set it
    val dir = tmp("localfs-sticky")
    val sticky = new Path(s"$dir/sticky")
    assert(nio.mkdirs(sticky))
    nio.setPermission(sticky, new FsPermission(Integer.parseInt("1755", 8).toShort))
    val unixMode = Files.getAttribute(Paths.get(s"$dir/sticky"), "unix:mode").asInstanceOf[Int]
    assert((unixMode & 0xfff) === Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus matches the stock raw filesystem for files, links and missing paths") {
    val dir = tmp("localfs-link")
    Files.write(dir.resolve("file"), "abc".getBytes)
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val raws = Seq(init(new RawLocalFileSystem()), init(new NioRawLocalFileSystem))
    for (name <- Seq("file", "missing", "link", "dangling");
         p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      val Seq(want, got) = raws.map(fs => Try(fs.getFileLinkStatus(p)).map(s =>
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          if (s.isSymlink) Some(s.getSymlink.toUri.getPath) else None)))
      assert(got.toOption === want.toOption, p)
      assert(got.failed.toOption.map(_.getClass) === want.failed.toOption.map(_.getClass), p)
    }
    assert(Try(raws(1).getFileLinkStatus(new Path(s"$dir/missing")))
      .failed.get.isInstanceOf[FileNotFoundException])
  }

  test("FileContext rename keeps its NONE and OVERWRITE rules") {
    val dir = tmp("localfs-rename")
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(local, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(s.getBytes) finally out.close()
    }
    val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
    write(src, "new")
    write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) === "new")
    // the moved sidecar verifies the new content through a stock handle
    val in = stock.open(dst)
    try assert(new String(in.readAllBytes()) === "new") finally in.close()
  }

  test("files and .crc sidecars are byte-identical and read back across filesystems") {
    val dir = tmp("localfs-crc")
    val body = Array.tabulate(5000)(i => (i * 31).toByte)
    for ((name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
      val out = fs.create(new Path(s"$dir/$name.bin"))
      try out.write(body) finally out.close()
    }
    for (f <- Seq("%s.bin", ".%s.bin.crc"))
      assert(Files.readAllBytes(dir.resolve(f.format("stock"))) sameElements
        Files.readAllBytes(dir.resolve(f.format("nio"))), f)
    for ((writer, reader) <- Seq("stock" -> nio, "nio" -> stock)) {
      val in = reader.open(new Path(s"$dir/$writer.bin"))
      try assert(in.readAllBytes() sameElements body, writer) finally in.close()
    }
  }
}
