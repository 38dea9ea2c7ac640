package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Differential lock of the fork-free `file:` filesystem ([[LocalFs]]):
  * each case runs the same operations through the graft classes and
  * through Hadoop's stock `LocalFileSystem`/`LocalFs`, in sibling temp
  * directories, and requires the same outcome — the on-disk tree (every
  * entry's mode bits, including each `.crc` side file, and every file's
  * bytes) and the values the calls return. The stock side forks
  * `chmod`/`readlink`, as it does wherever libhadoop is absent. */
class LocalFsSpec extends AnyFunSuite {

  private val FileUri = URI.create("file:///")

  /** One side: a fresh (uncached) FileSystem and a FileContext built
    * from a conf naming that side's two classes. */
  private final case class Side(fileImpl: String, afsImpl: String) {
    def open(umask: String): (FileSystem, FileContext) = {
      val conf = new Configuration()
      conf.set("fs.file.impl", fileImpl)
      conf.set("fs.AbstractFileSystem.file.impl", afsImpl)
      conf.set("fs.permissions.umask-mode", umask)
      (FileSystem.newInstance(FileUri, conf), FileContext.getFileContext(FileUri, conf))
    }
  }
  private val stock = Side("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
  private val graft = Side(LocalFs.hadoopConf("fs.file.impl"), LocalFs.hadoopConf("fs.AbstractFileSystem.file.impl"))

  /** Every entry under `root` (links not followed): relative name → its
    * mode bits (sticky included), whether it is a link, and a regular
    * file's bytes. */
  private def tree(root: JPath): Map[String, (Int, Boolean, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff
      val link = Files.isSymbolicLink(p)
      val bytes = if (!link && Files.isRegularFile(p)) new String(Files.readAllBytes(p), UTF_8) else ""
      root.relativize(p).toString -> ((mode, link, bytes))
    }.toMap
    finally walk.close()
  }

  /** Run `ops` on both sides under umask `umask`; require equal returned
    * values and equal trees. `ops` gets the side's root as a string, so
    * returned values can be made root-independent. */
  private def differential[A](umask: String = "022")(ops: (FileSystem, FileContext, String) => A): A = {
    val base = Files.createTempDirectory("localfs-spec")
    val results =
      try Seq(stock -> "stock", graft -> "graft").map { case (side, name) =>
        val root = Files.createDirectory(base.resolve(name))
        val (fs, fc) = side.open(umask)
        try (ops(fs, fc, root.toString), tree(root)) finally fs.close()
      }
      finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val (stockOut, stockTree) = results(0)
    val (graftOut, graftTree) = results(1)
    assert(graftTree == stockTree)
    assert(graftOut == stockOut)
    assert(stockTree.nonEmpty)
    graftOut
  }

  test("both sides resolve to the classes they name") {
    for ((side, fsClass, afsClass) <- Seq(
      (stock, "org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs"),
      (graft, classOf[GraftLocalFileSystem].getName, classOf[GraftLocalFs].getName))) {
      val (fs, fc) = side.open("022")
      try {
        assert(fs.getClass.getName == fsClass)
        assert(fc.getDefaultFileSystem.getClass.getName == afsClass)
      } finally fs.close()
    }
  }

  for (umask <- Seq("022", "077")) {
    test(s"create, mkdirs and setPermission leave the same mode bits and .crc files (umask $umask)") {
      differential(umask) { (fs, fc, root) =>
        val data = "spool segment\n".getBytes(UTF_8)
        def write(out: java.io.OutputStream): Unit = try out.write(data) finally out.close()
        write(fs.create(new Path(s"$root/fs-default")))
        fs.mkdirs(new Path(s"$root/fs-dir-default/a/b"))
        write(fc.create(new Path(s"$root/fc-default"), java.util.EnumSet.of(CreateFlag.CREATE)))
        fc.mkdir(new Path(s"$root/fc-dir-default/a"), FsPermission.getDirDefault, true)
        for (mode <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff)) { // 0600 0644 0700 0755 0777
          val perm = new FsPermission(mode.toShort)
          val m = Integer.toOctalString(mode)
          write(fs.create(new Path(s"$root/fs-create-$m"), perm, true, 4096, 1.toShort, 1L << 25, null))
          fs.mkdirs(new Path(s"$root/fs-mkdirs-$m/x"), perm)
          write(fs.create(new Path(s"$root/fs-set-$m")))
          fs.setPermission(new Path(s"$root/fs-set-$m"), perm)
          fs.mkdirs(new Path(s"$root/fs-setdir-$m"))
          fs.setPermission(new Path(s"$root/fs-setdir-$m"), perm)
          write(fc.create(new Path(s"$root/fc-create-$m"), java.util.EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.perms(perm)))
          fc.mkdir(new Path(s"$root/fc-mkdir-$m/x"), perm, true)
          fc.setPermission(new Path(s"$root/fc-create-$m"), new FsPermission((mode & 0x1c0).toShort))
        }
      }
    }
  }

  test("a sticky 01777 directory takes the stock fallback and keeps its bits") {
    val t = differential() { (fs, fc, root) =>
      fs.mkdirs(new Path(s"$root/fs-sticky"))
      fs.setPermission(new Path(s"$root/fs-sticky"), new FsPermission(0x3ff.toShort))
      fc.mkdir(new Path(s"$root/fc-sticky"), FsPermission.getDirDefault, true)
      fc.setPermission(new Path(s"$root/fc-sticky"), new FsPermission(0x3ff.toShort))
      Files.getAttribute(java.nio.file.Paths.get(s"$root/fs-sticky"), "unix:mode").asInstanceOf[Int] & 0xfff
    }
    assert(t == 0x3ff)
  }

  test("getFileLinkStatus agrees on files, directories, links to each and a dangling link") {
    val seen = differential() { (fs, fc, root) =>
      val r = java.nio.file.Paths.get(root)
      Files.write(r.resolve("f"), "12345".getBytes(UTF_8))
      Files.createDirectory(r.resolve("d"))
      Files.createSymbolicLink(r.resolve("lf"), r.resolve("f"))
      Files.createSymbolicLink(r.resolve("ld"), r.resolve("d"))
      Files.createSymbolicLink(r.resolve("dangle"), r.resolve("missing"))
      def look(st: => org.apache.hadoop.fs.FileStatus): String =
        try {
          val s = st
          val target = if (s.isSymlink) s.getSymlink.toString.replace(root, "<root>") else "-"
          s"symlink=${s.isSymlink} target=$target len=${s.getLen} dir=${s.isDirectory}"
        } catch { case e: java.io.IOException => e.getClass.getSimpleName }
      for {
        name <- Seq("f", "d", "lf", "ld", "dangle", "missing")
        p <- Seq(new Path(s"$root/$name"), fs.makeQualified(new Path(s"$root/$name")))
        (api, st) <- Seq("fs" -> (() => fs.getFileLinkStatus(p)), "fc" -> (() => fc.getFileLinkStatus(p)))
      } yield s"$api ${p.toUri.getScheme} $name: ${look(st())}"
    }
    // links are seen as links (the agreement is not vacuous); a QUALIFIED
    // path reads as its target, because the stock call runs `readlink` on
    // the string "file:/…", and the graft side returns that same answer
    assert(seen.contains("fc null lf: symlink=true target=file:<root>/f len=5 dir=false"), seen.mkString("\n"))
    assert(seen.contains("fs file lf: symlink=false target=- len=5 dir=false"), seen.mkString("\n"))
    assert(seen.contains("fs null dangle: symlink=true target=file:<root>/missing len=0 dir=false"),
      seen.mkString("\n"))
  }

  test("FileContext rename with OVERWRITE replaces the file and its .crc alike") {
    val t = differential() { (fs, fc, root) =>
      def put(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$root/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      put("_current", "4")
      put("_current.tmp", "5")
      fc.rename(new Path(s"$root/_current.tmp"), new Path(s"$root/_current"), Options.Rename.OVERWRITE)
      (new java.io.File(root).list().toSeq.sorted,
        new String(Files.readAllBytes(java.nio.file.Paths.get(s"$root/_current")), UTF_8))
    }
    assert(t == ((Seq("._current.crc", "_current"), "5")))
  }
}
