package graft

import graft.core.LocalFs
import graft.streaming.Streams
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `LocalFs` does what Hadoop's local file system does, without starting
  * a process per file operation. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val fileUri = new URI("file:///")

  /** Commands of the processes the JVM started while `body` ran. */
  def processesStarted(dir: JPath)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = dir.resolve("process_start.jfr")
    rec.dump(dump); rec.close()
    RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
  }

  test("Spark's file: FileSystem and AbstractFileSystem are the engine's") {
    val conf = spark.sessionState.newHadoopConf()
    // FileSystem.get caches one instance per scheme and user for the JVM,
    // so check the instance Spark gets, not only the conf: a `file:`
    // instance cached from a plain Configuration before the session was
    // built would win over the session's setting
    assert(FileSystem.get(fileUri, conf).getClass == classOf[LocalFs.FileSystem])
    assert(new Path("file:/tmp").getFileSystem(conf).getClass == classOf[LocalFs.FileSystem])
    assert(AbstractFileSystem.get(fileUri, conf).getClass == classOf[LocalFs.AbstractFileSystem])
  }

  test("checkpointed dedup + MV micro-batches start no chmod, readlink, stat or ls process") {
    import spark.implicits._
    val root = Files.createTempDirectory("localfs_stream")
    val (in, mv, ckpt) = (s"$root/in", s"$root/mv", s"$root/ckpt")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    for (i <- 0 until 3)
      Seq((new Timestamp(t0.getTime + i * 60000L), i.toLong), (t0, 0L)).toDF("ts", "k")
        .coalesce(1).write.parquet(s"$in/f$i.parquet")
    val schema = spark.read.parquet(s"$in/f0.parquet").schema
    var batches = 0
    val commands = processesStarted(root) {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      Streams.dedupWithinWatermark(src, Seq("k"), watermark = "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          Streams.mvWriteBatch(b, _.groupBy("k").agg(count(lit(1)).as("n")), mv, id)
          batches += 1
        }.start().awaitTermination()
    }
    assert(batches >= 3, s"$batches micro-batches")
    val forked = commands.filter { c =>
      Set("chmod", "readlink", "stat", "ls")(c.takeWhile(_ != ' ').split('/').last)
    }
    assert(forked.size == 0, s"e.g. ${forked.take(3).mkString("; ")}")
    val view = Streams.readMv(spark, mv).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(view == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s"got $view")
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** The same file operations through stock Hadoop and through LocalFs. */
  def sideBySide(check: (String, Configuration, JPath) => Unit): Unit = {
    val root = Files.createTempDirectory("localfs_compare")
    val engine = new Configuration()
    engine.set("fs.file.impl", classOf[LocalFs.FileSystem].getName)
    engine.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.AbstractFileSystem].getName)
    for ((name, conf) <- Seq("stock" -> new Configuration(), "engine" -> engine)) {
      val dir = Files.createDirectory(root.resolve(name))
      check(name, conf, dir)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** A fresh instance for `conf`'s `fs.file.impl`, outside the JVM-wide cache. */
  def newFs(conf: Configuration): FileSystem = {
    val fs = conf.getClass("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem])
      .getDeclaredConstructor().newInstance().asInstanceOf[FileSystem]
    fs.initialize(fileUri, conf); fs
  }

  def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("files and directories get the same permission bits as with stock Hadoop") {
    val modes = Map.newBuilder[(String, String), Int]
    sideBySide { (name, conf, dir) =>
      val fs = newFs(conf)
      assert((fs.getClass == classOf[LocalFs.FileSystem]) == (name == "engine"))
      val fc = FileContext.getFileContext(fileUri, conf)
      def p(s: String) = new Path(dir.resolve(s).toUri)
      fs.create(p("fs_file")).close()
      fs.mkdirs(p("fs_dir"))
      fs.mkdirs(p("fs_dir700"), new FsPermission(Integer.parseInt("700", 8).toShort))
      fs.create(p("fs_file640"), new FsPermission(Integer.parseInt("640", 8).toShort),
        false, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(p("fs_chmod")).close()
      fs.setPermission(p("fs_chmod"), new FsPermission(Integer.parseInt("604", 8).toShort))
      val out = fc.create(p("fc_file"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      out.write("abc".getBytes); out.close()
      fc.mkdir(p("fc_dir/nested"), FsPermission.getDirDefault, true)
      Files.list(dir).iterator.asScala.foreach(f => modes += (name, f.getFileName.toString) -> mode(f))
      modes += (name, "fc_dir/nested") -> mode(dir.resolve("fc_dir/nested"))
      fs.close()
    }
    val byName = modes.result()
    val stock = byName.collect { case (("stock", f), m) => f -> m }
    val engine = byName.collect { case (("engine", f), m) => f -> m }
    assert(stock.size == 12, stock.keys.toSeq.sorted)  // 8 paths and the 4 .crc files
    assert(engine == stock, (engine.toSeq.sorted, stock.toSeq.sorted))
  }

  test("FileContext.rename onto a file: refused without OVERWRITE, replaces it with OVERWRITE, moves the .crc") {
    val crcs = Map.newBuilder[String, Seq[Byte]]
    sideBySide { (name, conf, dir) =>
      val fc = FileContext.getFileContext(fileUri, conf)
      assert((fc.getDefaultFileSystem.getClass == classOf[LocalFs.AbstractFileSystem]) == (name == "engine"))
      def p(s: String) = new Path(dir.resolve(s).toUri)
      def write(s: String, body: String): Unit = {
        val out = fc.create(p(s), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(body.getBytes); out.close()
      }
      write("a", "first"); write("b", "second")
      intercept[FileAlreadyExistsException](fc.rename(p("a"), p("b")))
      assert(new String(Files.readAllBytes(dir.resolve("b"))) == "second")
      fc.rename(p("a"), p("b"), Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("a")) && !Files.exists(dir.resolve(".a.crc")))
      assert(new String(Files.readAllBytes(dir.resolve("b"))) == "first")
      crcs += name -> Files.readAllBytes(dir.resolve(".b.crc")).toSeq
      // the checksum that moved with the file still verifies it
      val in = fc.open(p("b")); val buf = new Array[Byte](5); in.readFully(buf); in.close()
      assert(new String(buf) == "first")
    }
    val byName = crcs.result()
    assert(byName("engine") == byName("stock"))
  }

  test("sticky-bit and setgid directories, and symlinks, go through Hadoop's own path") {
    val seen = Map.newBuilder[(String, String), Any]
    sideBySide { (name, conf, dir) =>
      val fs = newFs(conf)
      def p(s: String) = new Path(dir.resolve(s).toUri)
      // only chmod sets the sticky bit; the nine-bit java.nio call cannot
      fs.mkdirs(p("sticky"))
      fs.setPermission(p("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      seen += (name, "sticky") -> mode(dir.resolve("sticky"))
      // chmod keeps a directory's setgid bit, which java.nio would clear
      val setgid = Files.createDirectory(dir.resolve("setgid"))
      Files.setAttribute(setgid, "unix:mode", Integer.parseInt("2775", 8))
      fs.setPermission(p("setgid"), new FsPermission(Integer.parseInt("750", 8).toShort))
      seen += (name, "setgid") -> mode(setgid)
      Files.createFile(dir.resolve("target"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
      // a qualified path and a bare one: Hadoop reports a link only for the bare one
      for (link <- Seq(p("link"), new Path(dir.resolve("link").toString)))
        seen += (name, link.toUri.getScheme + ":link") -> fs.getFileLinkStatus(link).isSymlink
      fs.close()
    }
    val byName = seen.result()
    val stock = byName.collect { case (("stock", k), v) => k -> v }
    assert(stock("sticky") == Integer.parseInt("1777", 8))
    assert(stock("setgid") == Integer.parseInt("2750", 8))
    assert(stock("null:link") == true)
    assert(byName.collect { case (("engine", k), v) => k -> v } == stock)
  }
}
