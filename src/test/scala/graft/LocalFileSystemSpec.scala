package graft

import graft.plans.{GraftLocalFileSystem, GraftLocalFs}
import graft.streaming.RollingIngest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** The engine's `file:` file system ([[GraftLocalFileSystem]] and its
  * FileContext twin [[GraftLocalFs]]): a session resolves `file:` to it,
  * what the ingest writes through it carries the POSIX modes Hadoop's
  * stock local file system gives the same kind of file under the same
  * umask, and a symlink still reports as one. */
class LocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def hc: Configuration = spark.sparkContext.hadoopConfiguration
  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("a local session resolves file: to the engine's file systems") {
    val uri = new java.net.URI("file:///")
    assert(FileSystem.get(uri, hc).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }

  test("store and checkpoint files keep the stock local file system's modes") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_localfs").toString
    val (store, ckpt) = (s"$root/store", s"$root/checkpoint")
    val in = MemoryStream[(Long, String)]
    val q = RollingIngest.dedupIngest(in.toDF().toDF("doc_id", "text"), store,
      configure = _.option("checkpointLocation", ckpt)) { (p, _) => p.collect(): Unit }
    try { in.addData((0L until 6L).map(i => (i, s"mode doc $i token k$i"))); q.processAllAvailable() }
    finally q.stop()
    val part = new java.io.File(s"$store/d0").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get

    // the same kinds of file, written by Hadoop's stock classes under the
    // same configuration (hence the same umask)
    val conf = new Configuration(hc)
    conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    assert(stock.getRawFileSystem.getClass == classOf[org.apache.hadoop.fs.RawLocalFileSystem])
    val ref = s"$root/stock"
    stock.mkdirs(new Path(s"$ref/dir"))
    stock.create(new Path(s"$ref/dir/part")).close()
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    fc.mkdir(new Path(s"$ref/log"), FsPermission.getDirDefault, true)
    fc.create(new Path(s"$ref/log/.0.tmp"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(s"$ref/log/.0.tmp"), new Path(s"$ref/log/0"), Options.Rename.OVERWRITE)

    val pairs = Seq(
      part.getPath -> s"$ref/dir/part",
      s"${part.getParent}/.${part.getName}.crc" -> s"$ref/dir/.part.crc",
      store -> s"$ref/dir",
      s"$store/d0" -> s"$ref/dir",
      s"$ckpt/offsets" -> s"$ref/log",
      s"$ckpt/offsets/0" -> s"$ref/log/0",
      s"$ckpt/commits/0" -> s"$ref/log/0")
    pairs.foreach { case (got, want) =>
      assert(Files.exists(Paths.get(got)), s"$got missing")
      assert(mode(got) == mode(want), s"$got is ${mode(got)}, stock ${mode(want)}")
    }
    assert(mode(part.getPath) == "rw-r--r--" && mode(s"$store/d0") == "rwxr-xr-x",
      "the default umask 022 gives 644 files and 755 dirs")
  }

  test("links and special modes keep the stock behaviour") {
    val root = Files.createTempDirectory("graft_localfs_link")
    val target = Files.write(root.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val fs = FileSystem.get(new java.net.URI("file:///"), hc)
    val stockConf = new Configuration(hc)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), stockConf)
    val (fc, stockFc) =
      (FileContext.getLocalFSFileContext(hc), FileContext.getLocalFSFileContext(stockConf))
    def shape(st: org.apache.hadoop.fs.FileStatus) =
      (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath else "", st.getLen)
    // a bare path reads the link; a file:-qualified one (as FileContext
    // passes) never did in the stock class, which reads the link of the
    // literal "file:/…" string
    val bare = new Path(link.toString)
    assert(shape(fs.getFileLinkStatus(bare)) == ((true, target.toString, 1L)))
    Seq(bare, new Path(link.toUri), new Path(target.toString), new Path(target.toUri)).foreach { p =>
      assert(shape(fs.getFileLinkStatus(p)) == shape(stock.getFileLinkStatus(p)), p)
      assert(shape(fc.getFileLinkStatus(p)) == shape(stockFc.getFileLinkStatus(p)), p)
    }
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(root.resolve("absent").toString)))
    // a sticky bit, which the in-JVM call cannot set, still lands
    val dir = Files.createDirectory(root.resolve("sticky"))
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)) ==
      Integer.parseInt("1755", 8))
    fs.setPermission(new Path(target.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(target)) == "rw-r-----")
  }
}
