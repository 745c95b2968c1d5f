package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's fork-free FileContext binding of `file:` against Hadoop's
  * stock `LocalFs`: the same files, permissions and link statuses, and the
  * wiring that makes it the default of engine sessions.
  */
class LocalFsSpec extends SparkSpec {

  private val Key = "fs.AbstractFileSystem.file.impl"
  private val Stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** A FileContext over `impl` and a fresh temp directory (as a plain
    * absolute path, as Spark's checkpoint paths reach the binding).
    */
  private def context(impl: String): (FileContext, String) = {
    val conf = new Configuration()
    conf.set(Key, impl)
    (FileContext.getFileContext(new URI("file:///"), conf),
      tempDir("graft-localfs-"))
  }

  private def perms(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** Each probe run on both bindings, in their own directories. */
  private def both[A](probe: (FileContext, String) => A): (A, A) = {
    val (stock, d1) = context(Stock)
    val (ours, d2) = context(classOf[graft.fs.LocalFs].getName)
    assert(ours.getDefaultFileSystem.isInstanceOf[graft.fs.LocalFs])
    assert(!stock.getDefaultFileSystem.isInstanceOf[graft.fs.LocalFs])
    (probe(stock, d1), probe(ours, d2))
  }

  private def write(fc: FileContext, p: String, text: String): Unit = {
    val out = fc.create(new Path(p), java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("create: same file and checksum-file permissions as Hadoop's LocalFs") {
    val (s, g) = both { (fc, d) =>
      write(fc, s"$d/a", "x")
      (perms(s"$d/a"), perms(s"$d/.a.crc"))
    }
    assert(s === g)
  }

  test("mkdir with 0700: same permission as Hadoop's LocalFs") {
    val (s, g) = both { (fc, d) =>
      fc.mkdir(new Path(s"$d/sub/dir"), new FsPermission("700"), true)
      perms(s"$d/sub/dir")
    }
    assert(s === g)
    assert(g === "rwx------")
  }

  test("rename with OVERWRITE: same files and contents as Hadoop's LocalFs") {
    val (s, g) = both { (fc, d) =>
      write(fc, s"$d/src", "new")
      write(fc, s"$d/dst", "old")
      fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), Options.Rename.OVERWRITE)
      (new java.io.File(d).list().sorted.toSeq,
        new String(Files.readAllBytes(Paths.get(s"$d/dst")), UTF_8))
    }
    assert(s === g)
    assert(g === (Seq(".dst.crc", "dst"), "new"))
  }

  test("getFileLinkStatus: file, directory, symlink and missing path as Hadoop's LocalFs") {
    def shape(st: FileStatus) =
      (st.getPath.getName, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink.toString else "", st.getLen)
    val (s, g) = both { (fc, d) =>
      write(fc, s"$d/f", "abc")
      fc.mkdir(new Path(s"$d/dir"), FsPermission.getDirDefault, false)
      Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get("f"))
      val missing =
        try { fc.getFileLinkStatus(new Path(s"$d/nope")); "found" }
        catch { case _: FileNotFoundException => "FileNotFoundException" }
      (Seq("f", "dir", "link").map(n => shape(fc.getFileLinkStatus(new Path(s"$d/$n")))),
        missing)
    }
    assert(s._1.map(_.copy(_5 = "")) === g._1.map(_.copy(_5 = "")))
    // link targets are qualified against each run's own directory
    assert(s._1(2)._5.endsWith("/f") && g._1(2)._5.endsWith("/f"))
    assert(g._1(2)._4, "the symlink must report isSymlink")
    assert(g._2 === "FileNotFoundException" && s._2 === g._2)
  }

  test("engine sessions bind file: to the engine's LocalFs; an explicit setting still wins") {
    assert(spark.sessionState.newHadoopConf().get(Key) === classOf[graft.fs.LocalFs].getName)
    val conf = new Configuration()
    conf.set(Key, Stock)
    assert(conf.get(Key) === Stock)
    assert(!FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[graft.fs.LocalFs])
  }
}
