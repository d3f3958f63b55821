package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import graft.flow.FlowGen
import graft.sources.ProtoCodec
import graft.streaming.{FlowStreams, ManifestTable}

/** The session's `file:` file system: no shell process on the ingest write
  * and checkpoint path, and the same answers as the stock
  * `RawLocalFileSystem` it replaces.
  */
class LocalFsSpec extends SparkTestBase {
  private def tmp(): JPath = Files.createTempDirectory("graft_localfs")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("a GraftSession resolves file: to the graft file system through both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(GraftSession.localFsInstalled(conf))
    // what getOrCreate warns about: a stock file system for either API
    val stockFs = new Configuration(conf)
    stockFs.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stockFs.setBoolean("fs.file.impl.disable.cache", true)
    assert(!GraftSession.localFsInstalled(stockFs))
    val stockFc = new Configuration(conf)
    stockFc.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    assert(!GraftSession.localFsInstalled(stockFc))
  }

  test("no chmod or readlink process on the ingest path: manifest append and a checkpointed micro-batch") {
    val base = tmp()
    val mark = base.getFileName.toString
    val wire = Files.createDirectory(base.resolve("wire"))
    val msgs = FlowGen.flows(spark, 300, seed = 41, baseTime = 1704067200L).collect().toSeq
    msgs.grouped(100).zipWithIndex.foreach { case (g, i) =>
      Files.write(wire.resolve(f"payload_$i%03d.bin"), g.flatMap(ProtoCodec.encodeDelimited).toArray)
    }
    val batch = FlowStreams.projectRaw(FlowGen.flows(spark, 400, seed = 42, baseTime = 1704067200L)
      .toDF().repartition(2))
    val table = base.resolve("table").toString
    val control = Files.createFile(base.resolve("control"))

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      ManifestTable.append(batch, table, Some("event_date"), 0L, Some("timeReceived"))
      val q = FlowStreams.startRawMVManaged(ProtoCodec.binaryFileStream(spark, wire.toString).toDF(),
        base.resolve("raw").toString, base.resolve("cp").toString, Trigger.AvailableNow())
      q.awaitTermination()
      // the recording sees forks: the stock file system still runs chmod
      raw(new RawLocalFileSystem).setPermission(new Path(control.toString), new FsPermission("640"))
    } finally rec.stop()
    val dump = base.resolve("spawns.jfr")
    rec.dump(dump)
    rec.close()

    val forks = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(c => (c.contains("chmod") || c.contains("readlink")) && c.contains(mark))
    val (controlForks, ingestForks) = forks.partition(_.contains(control.toString))
    assert(controlForks.size === 1, forks)
    assert(ingestForks.isEmpty, s"${ingestForks.size} forks on the ingest path: ${ingestForks.take(5)}")

    assert(ManifestTable.read(spark, table).count() === 400)
    assert(FlowStreams.readRawManaged(spark, base.resolve("raw").toString).count() === 300)
    // the checksum layer stays: checkpoint log files keep their .crc
    Seq("offsets", "commits").foreach(d => assert(Files.exists(base.resolve(s"cp/$d/.0.crc")), d))
    assert(Files.getPosixFilePermissions(control).asScala.map(_.toString).toSet ===
      Set("OWNER_READ", "OWNER_WRITE", "GROUP_READ"))
  }

  test("parity with the stock RawLocalFileSystem: permission bits, links, missing paths") {
    val stock = raw(new RawLocalFileSystem)
    val graft = raw(new GraftRawLocalFileSystem)
    val base = tmp()

    // writes: each file system builds the same tree; the bits on disk match
    def build(fs: RawLocalFileSystem, dir: JPath): Unit = {
      fs.create(new Path(dir.resolve("created").toString)).close()
      fs.mkdirs(new Path(dir.resolve("made").toString))
      fs.mkdirs(new Path(dir.resolve("made750").toString), new FsPermission("750"))
      Seq("600", "644", "755", "777", "000").foreach { m =>
        val f = Files.createFile(dir.resolve(s"file$m"))
        fs.setPermission(new Path(f.toUri), new FsPermission(m))
      }
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      fs.setPermission(new Path(sticky.toString), new FsPermission("1777"))
    }
    val (sDir, gDir) = (Files.createDirectory(base.resolve("stock")), Files.createDirectory(base.resolve("graft")))
    build(stock, sDir)
    build(graft, gDir)
    val names = Files.list(sDir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(names === Files.list(gDir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted)
    names.foreach { n =>
      assert(Files.getPosixFilePermissions(gDir.resolve(n)) === Files.getPosixFilePermissions(sDir.resolve(n)), n)
      assert(stock.getFileStatus(new Path(gDir.resolve(n).toString)).getPermission ===
        stock.getFileStatus(new Path(sDir.resolve(n).toString)).getPermission, n)
    }
    assert(stock.getFileStatus(new Path(gDir.resolve("sticky").toString)).getPermission.getStickyBit)

    // link status: what each file system reports for the same path
    type View = Either[String, (Short, Boolean, Option[String], Boolean, Long)]
    def view(fs: RawLocalFileSystem, p: Path): View =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPermission.toShort, s.isSymlink, if (s.isSymlink) Some(s.getSymlink.toString) else None,
          s.isDirectory, s.getLen))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    def forms(f: JPath): Seq[Path] = Seq(new Path(f.toUri), new Path(f.toString))

    // the trees each file system wrote
    names.foreach { n =>
      forms(sDir.resolve(n)).zip(forms(gDir.resolve(n))).foreach { case (s, g) =>
        assert(view(graft, g) === view(stock, s), g)
      }
    }
    // one shared tree: a regular file, a directory, links and a missing path
    val shared = Files.createDirectory(base.resolve("shared"))
    val regular = Files.write(shared.resolve("regular"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(shared.resolve("dir"))
    val link = Files.createSymbolicLink(shared.resolve("link"), regular)
    val relLink = Files.createSymbolicLink(shared.resolve("rel_link"), dir.getFileName)
    val dangling = Files.createSymbolicLink(shared.resolve("dangling"), shared.resolve("gone"))
    val missing = shared.resolve("missing")
    Seq(regular, dir, link, relLink, dangling, missing).flatMap(forms).foreach { p =>
      assert(view(graft, p) === view(stock, p), p)
    }
    // the stock quirk is kept: only the unqualified form reads as a link
    assert(view(graft, new Path(link.toString)).exists(_._2))
    assert(view(graft, new Path(link.toUri)).exists(!_._2))
    assert(view(graft, new Path(missing.toUri)).isLeft)
    assert(view(graft, new Path(dangling.toString)) ===
      Right((FsPermission.getDefault.toShort, true, Some(s"file:${shared.resolve("gone")}"), false, 0L)))
    intercept[FileNotFoundException](graft.getFileLinkStatus(new Path(dangling.toUri)))
    assert(!new File(new Path(link.toUri).toString).exists())
  }
}
