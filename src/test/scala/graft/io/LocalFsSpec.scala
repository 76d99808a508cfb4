package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[LocalFs]] against Hadoop's own `org.apache.hadoop.fs.local.LocalFs`:
  * the same calls through a `FileContext` over each leave the same files,
  * `.crc` siblings and mode bits, and answer the same statuses — and
  * ours starts no process doing it. */
class LocalFsSpec extends AnyFunSuite {
  private val hadoopImpl = classOf[org.apache.hadoop.fs.local.LocalFs].getName
  private val nioImpl = classOf[LocalFs].getName

  private def fc(impl: String, umask: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & octal("7777")

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  /** relative path → (octal mode, file bytes) for everything under `root`. */
  private def tree(root: java.nio.file.Path): Map[String, (String, String)] = {
    val all = Files.walk(root)
    try all.iterator().asScala.filter(_ != root).map { p =>
      val bytes = if (Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS))
        hex(Files.readAllBytes(p)) else ""
      root.relativize(p).toString -> (Integer.toOctalString(mode(p)), bytes)
    }.toMap
    finally all.close()
  }

  /** Run `ops` once through Hadoop's `LocalFs` and once through ours, each
    * in a fresh temp dir; both trees must match. Returns ours. */
  private def parity(umask: String)(ops: (FileContext, Path) => Unit): Map[String, (String, String)] = {
    val trees = Seq(hadoopImpl, nioImpl).map { impl =>
      val root = Files.createTempDirectory("localfs")
      ops(fc(impl, umask), new Path(root.toString))
      tree(root)
    }
    assert(trees.head.nonEmpty)
    assert(trees(1) == trees.head)
    trees(1)
  }

  private def write(fc: FileContext, p: Path, text: String,
                    opts: Options.CreateOpts*): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
                        (Options.CreateOpts.createParent() +: opts): _*)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("the install really selects graft.io.LocalFs") {
    assert(fc(nioImpl, "022").getDefaultFileSystem.isInstanceOf[LocalFs])
    assert(fc(hadoopImpl, "022").getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
  }

  test("create: same files, .crc siblings and mode under umasks giving 0644, 0600 and 0755") {
    for ((umask, perms, want) <- Seq(("022", None, "644"), ("077", None, "600"),
                                     ("022", Some("777"), "755"))) {
      val ours = parity(umask) { (fc, root) =>
        val opts = perms.map(p => Options.CreateOpts.perms(new FsPermission(octal(p).toShort))).toSeq
        write(fc, new Path(root, "d/f"), "payload", opts: _*)
      }
      assert(ours.keySet == Set("d", "d/f", "d/.f.crc"))
      assert(ours("d/f")._1 == want && ours("d/.f.crc")._1 == want, s"umask $umask: $ours")
    }
  }

  test("mkdir under a setgid directory: same mode bits as Hadoop's") {
    val ours = parity("022") { (fc, root) =>
      val parent = new Path(root, "g")
      fc.mkdir(parent, FsPermission.getDirDefault, false)
      Files.setAttribute(Paths.get(parent.toString), "unix:mode", Int.box(octal("2775")))
      fc.mkdir(new Path(parent, "sub"), FsPermission.getDirDefault, false)
    }
    assert(ours("g/sub")._1 == "2755", ours)
  }

  test("rename onto an existing target: refused without OVERWRITE, the same result with it") {
    val ours = parity("022") { (fc, root) =>
      val (a, b) = (new Path(root, "a"), new Path(root, "b"))
      write(fc, a, "new contents")
      write(fc, b, "old")
      intercept[FileAlreadyExistsException](fc.rename(a, b))
      fc.rename(a, b, Options.Rename.OVERWRITE)
    }
    assert(ours.keySet == Set("b", ".b.crc"))
    assert(ours("b")._2 == hex("new contents".getBytes(UTF_8)))
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
     s.getPermission, s.getOwner, s.getGroup, s.getModificationTime, s.getReplication,
     s.getBlockSize)

  test("getFileLinkStatus: equal statuses for files and links, FileNotFoundException when missing") {
    val root = Files.createTempDirectory("localfs_links")
    val file = root.resolve("file")
    Files.write(file, "twelve bytes".getBytes(UTF_8))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val (hadoop, nio) = (fc(hadoopImpl, "022"), fc(nioImpl, "022"))
    def both(p: Path) = (fields(hadoop.getFileLinkStatus(p)), fields(nio.getFileLinkStatus(p)))
    def plain(name: String) = new Path(root.resolve(name).toString)
    def qualified(name: String) = new Path(root.resolve(name).toUri)

    for (p <- Seq(plain("file"), qualified("file"), plain("link"), qualified("link"),
                  plain("dangling"))) {
      val (h, n) = both(p)
      assert(n == h, s"$p")
    }
    // Hadoop's own quirk, kept: only an unqualified path reads as a link
    val link = nio.getFileLinkStatus(plain("link"))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == file.toString && link.getLen == 12)
    assert(!nio.getFileLinkStatus(qualified("link")).isSymlink)
    for (p <- Seq(plain("missing"), qualified("missing"))) {
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(p))
      intercept[FileNotFoundException](nio.getFileLinkStatus(p))
    }
  }

  test("setPermission with the sticky bit still applies") {
    val ours = parity("022") { (fc, root) =>
      val d = new Path(root, "shared")
      fc.mkdir(d, FsPermission.getDirDefault, false)
      fc.setPermission(d, new FsPermission(octal("1777").toShort))
      val f = new Path(root, "f")
      write(fc, f, "x")
      fc.setPermission(f, new FsPermission(octal("640").toShort))
    }
    assert(ours("shared")._1 == "1777" && ours("f")._1 == "640", ours)
  }

  test("creates, mkdirs, renames and link probes start no process") {
    def ops(impl: String): Seq[String] = {
      val root = Files.createTempDirectory("localfs_forks")
      val fs = fc(impl, "022")
      val rootPath = new Path(root.toUri)
      ProcessStarts.during {
        fs.mkdir(new Path(rootPath, "d"), FsPermission.getDirDefault, true)
        write(fs, new Path(rootPath, "d/a"), "a")
        write(fs, new Path(rootPath, "d/b"), "b")
        fs.rename(new Path(rootPath, "d/a"), new Path(rootPath, "d/b"), Options.Rename.OVERWRITE)
        fs.getFileLinkStatus(new Path(rootPath, "d/b"))
      }.filter(_.contains(root.getFileName.toString))
    }
    // without libhadoop Hadoop's own LocalFs forks: the probe must see that
    assert(ops(hadoopImpl).nonEmpty, "the probe saw no process even for Hadoop's LocalFs")
    assert(ops(nioImpl).isEmpty)
  }
}
