package graft

import java.net.URI
import java.nio.file.Files

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.model.Event
import graft.streaming.StreamJobs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The `graft.io` local file system against stock Hadoop, which stays the
  * ground truth here: the same permission bits, link statuses and rename
  * failures, and a checkpoint that keeps every checksum. */
class LocalFsSpec extends SparkSuite {

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = rawFs(new RawLocalFileSystem)
  private lazy val nio = rawFs(new NioRawLocalFileSystem)

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)
  /** Permission bits as the kernel holds them, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("permission bits equal stock after create, mkdirs and setPermission") {
    val root = tmp("graft_perm")
    for (bits <- Seq(0x000, 0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff)) {
      val perm = new FsPermission(bits.toShort)
      def modes(fs: RawLocalFileSystem, side: String): Seq[Int] = {
        val f = root.resolve(f"$side-$bits%o-file"); val d = root.resolve(f"$side-$bits%o-dir")
        val g = root.resolve(f"$side-$bits%o-set")
        fs.create(new Path(f.toString), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(d.toString), perm))
        Files.write(g, Array[Byte](1))
        fs.setPermission(new Path(g.toString), perm)
        Seq(mode(f), mode(d), mode(g))
      }
      val want = modes(stock, "stock")
      // create and mkdirs apply the default 022 umask; setPermission does not
      assert(want == Seq(bits & ~0x12, bits & ~0x12, bits),
        f"stock gave ${want.map(_.toOctalString)} for $bits%o")
      assert(modes(nio, "nio") == want, f"mode $bits%o")
    }
    // a sticky directory takes the stock path on both sides
    val sticky = new FsPermission(0x3ff.toShort)
    val dirs = Seq(stock, nio).zipWithIndex.map { case (fs, i) =>
      val d = root.resolve(s"sticky$i"); Files.createDirectory(d)
      fs.setPermission(new Path(d.toString), sticky); mode(d)
    }
    assert(dirs == Seq(0x3ff, 0x3ff))
  }

  test("getFileLinkStatus equals stock for a file, a dir, a symlink, a dangling link, a missing path") {
    val root = tmp("graft_link")
    val file = Files.write(root.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    def outcome(fs: RawLocalFileSystem, p: Path): Either[(String, String), Seq[Any]] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left((e.getClass.getName, e.getMessage)) }
    for (p <- Seq(file, dir, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = outcome(stock, path)
      assert(outcome(nio, path) == want, s"$path")
    }
    // the stock results the comparison rests on, for the unqualified paths
    assert(outcome(stock, new Path(link.toString)).exists(_(3) == true))
    assert(outcome(stock, new Path(dangling.toString)).exists(_(3) == true))
    assert(outcome(stock, new Path(missing.toString)).left.exists(
      _._1 == classOf[java.io.FileNotFoundException].getName))
  }

  test("FileContext rename onto an existing file without overwrite fails as stock does") {
    def attempt(impl: String): (String, String, String) = {
      val root = tmp("graft_rename")
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val src = new Path(root.resolve("src").toUri); val dst = new Path(root.resolve("dst").toUri)
      for ((p, b) <- Seq(src -> "new", dst -> "old")) {
        val o = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        o.write(b.getBytes); o.close()
      }
      val err = intercept[java.io.IOException](fc.rename(src, dst, Options.Rename.NONE))
      (err.getClass.getName, err.getMessage.replace(root.toString, "<root>"),
        new String(Files.readAllBytes(root.resolve("dst"))) +
          Files.exists(root.resolve("src")) + Files.exists(root.resolve(".src.crc")))
    }
    val want = attempt("org.apache.hadoop.fs.local.LocalFs")
    assert(want._1 == classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName)
    assert(attempt(classOf[NioLocalFs].getName) == want)
  }

  test("the session resolves file: to the graft classes through both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("a checkpointed stream keeps Hadoop .crc companions and Spark's state checksums") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = tmp("graft_ckpt_crc")
    val ms = MemoryStream[Event]
    val q = StreamJobs.loginFailStream(ms.toDS(), gapSec = 3600)
      .writeStream.format("memory").queryName("local_fs_crc").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    for (b <- 0 until 3) {
      ms.addData((0 until 8).map(i => Event(b * 8L + i, new java.sql.Timestamp(t0 + (b * 8 + i) * 1000L),
        i % 4L, if (i % 2 == 0) "error" else "click")))
      q.processAllAvailable()
    }
    q.stop()
    val files = Files.walk(ckpt).filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    def crc(p: java.nio.file.Path): java.nio.file.Path = p.resolveSibling(s".${p.getFileName}.crc")
    val logs = files.filter(p => Set("offsets", "commits")(p.getParent.getFileName.toString) &&
      p.getFileName.toString.forall(_.isDigit))
    val deltas = files.filter(_.getFileName.toString.endsWith(".delta"))
    assert(logs.size == 6 && deltas.size == 3 * spark.conf.get("spark.sql.shuffle.partitions").toInt,
      files.mkString("\n"))
    for (f <- logs ++ deltas) assert(Files.exists(crc(f)), s"no Hadoop checksum for $f")
    for (d <- deltas) {
      val spk = d.resolveSibling(s"${d.getFileName}.crc")
      assert(Files.exists(spk) && Files.exists(crc(spk)), s"no Spark checksum for $d")
    }
    assert(spark.table("local_fs_crc").count() > 0)
  }
}
