package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LocalFs

/** graft's `file:` filesystem (`graft.sources.LocalFs`) against Hadoop's
  * stock local filesystems: the same modes, `.crc` files and link
  * statuses, and both session builders resolve `file:` to it.
  */
class LocalFsSpec extends AnyFunSuite {
  private val local = URI.create("file:///")

  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) LocalSession.LocalFileSystem.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** A fresh (uncached) `FileSystem` and a `FileContext` over one conf. */
  private def apis(c: Configuration): (FileSystem, FileContext) =
    (FileSystem.newInstance(local, c), FileContext.getFileContext(local, c))

  /** Relative path -> `rwxr-x---` of every file and directory under root. */
  private def modes(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p =>
      root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  private def writeTree(root: JPath, c: Configuration): Unit = {
    val (fs, fc) = apis(c)
    val out = fs.create(new Path(s"$root/fs/a/b/part-0"))
    out.write(1); out.close()
    fs.mkdirs(new Path(s"$root/fs/dir"))
    val f = fs.create(new Path(s"$root/fs/explicit"))
    f.close()
    fs.setPermission(new Path(s"$root/fs/explicit"), new FsPermission("640"))
    val o2 = fc.create(new Path(s"$root/fc/x/log-0"),
      java.util.EnumSet.of(CreateFlag.CREATE), org.apache.hadoop.fs.Options.CreateOpts.createParent())
    o2.write(2); o2.close()
    fc.rename(new Path(s"$root/fc/x/log-0"), new Path(s"$root/fc/x/log-1"))
    fc.mkdir(new Path(s"$root/fc/y/z"), FsPermission.getDirDefault, true)
    fs.close()
  }

  for (umask <- Seq("022", "077")) {
    test(s"FileSystem and FileContext create the stock modes and .crc files under umask $umask") {
      val stock = SparkTestBase.tempDir("localfs_stock")
      val graft = SparkTestBase.tempDir("localfs_graft")
      writeTree(stock, conf(umask, graft = false))
      writeTree(graft, conf(umask, graft = true))
      val m = modes(graft)
      assert(m.keySet.exists(_.endsWith(".part-0.crc")) && m.keySet.exists(_.endsWith(".log-1.crc")), m)
      assert(m == modes(stock))
    }
  }

  test("getFileLinkStatus equals the stock status for a file, a directory, a symlink and a dangling symlink") {
    val root = SparkTestBase.tempDir("localfs_links")
    Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    val (stockFs, stockFc) = apis(conf("022", graft = false))
    val (graftFs, graftFc) = apis(conf("022", graft = true))
    assert(graftFs.isInstanceOf[LocalFs.Checksummed] && !stockFs.isInstanceOf[LocalFs.Checksummed])
    def status(get: => org.apache.hadoop.fs.FileStatus): String =
      try get.toString catch { case e: java.io.IOException => e.getClass.getName }
    for (name <- Seq("file", "dir", "link", "dangling", "missing")) {
      val p = new Path(root.resolve(name).toString)
      assert(status(graftFs.getFileLinkStatus(p)) == status(stockFs.getFileLinkStatus(p)), name)
      assert(status(graftFc.getFileLinkStatus(p)) == status(stockFc.getFileLinkStatus(p)), name)
    }
    assert(graftFs.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    stockFs.close(); graftFs.close()
  }

  test("a sticky-bit setPermission still sets the sticky bit") {
    val root = SparkTestBase.tempDir("localfs_sticky")
    val (fs, _) = apis(conf("022", graft = true))
    val dir = new Path(root.resolve("shared").toString)
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val p = fs.getFileStatus(dir).getPermission
    assert(p.getStickyBit && p.toShort == Integer.parseInt("1777", 8).toShort, p)
    fs.close()
  }

  private def resolved(c: Configuration): (String, String) =
    (FileSystem.get(local, c).getClass.getName,
      FileContext.getFileContext(local, c).getDefaultFileSystem.getClass.getName)

  private val graftClasses = (classOf[LocalFs.Checksummed].getName, classOf[LocalFs.Context].getName)

  test("SparkTestBase's session resolves file: to graft's classes through both APIs") {
    assert(resolved(SparkTestBase.spark.sparkContext.hadoopConfiguration) == graftClasses)
  }

  test("LocalSession.build's session resolves file: to graft's classes through both APIs") {
    // a session of its own, so in a JVM of its own
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-Xmx512m", "-cp", System.getProperty("java.class.path"), "graft.LocalFsSpec")
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor() == 0, out)
    assert(out == s"${graftClasses._1} ${graftClasses._2}")
  }
}

object LocalFsSpec {
  /** Prints the classes `file:` resolves to in a `LocalSession.build` session. */
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build("1", "ERROR")
    val c = spark.sparkContext.hadoopConfiguration
    println(s"${FileSystem.get(URI.create("file:///"), c).getClass.getName} " +
      FileContext.getFileContext(URI.create("file:///"), c).getDefaultFileSystem.getClass.getName)
    spark.stop()
  }
}
