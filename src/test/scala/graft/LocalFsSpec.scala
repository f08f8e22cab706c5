package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import graft.engine.{LocalCheckpointFileManager, NoForkLocalFileSystem, NoForkRawLocalFileSystem, Sink}
import graft.tools.Measure
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col

/** The engine's `file:` FileSystem and checkpoint manager: the same modes,
  * sidecars and rename semantics as Spark's and Hadoop's defaults, with no
  * OS process per file. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): JPath = tempDir("graft_localfs_")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def isForkedFsCommand(c: String): Boolean =
    c.split("\\s+").headOption.exists(h =>
      h.endsWith("chmod") || h.endsWith("readlink"))

  test("setPermission: same POSIX permissions as the stock chmod path") {
    val stock = raw(new RawLocalFileSystem)
    val noFork = raw(new NoForkRawLocalFileSystem)
    val dir = tmpDir()
    val expected = Seq(0x1a4 -> "rw-r--r--", 0x1ed -> "rwxr-xr-x",
      0x180 -> "rw-------", 0x1c0 -> "rwx------", 0x124 -> "r--r--r--")
    for ((mode, want) <- expected; kind <- Seq("file", "dir")) {
      val twins = Seq("stock", "nofork").map { side =>
        val p = dir.resolve(f"$kind-$side-$mode%o")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        // start every twin away from the target, so a no-op cannot pass
        Files.setPosixFilePermissions(p,
          PosixFilePermissions.fromString("rwxrwxrwx"))
        p
      }
      stock.setPermission(new Path(twins(0).toUri), new FsPermission(mode.toShort))
      noFork.setPermission(new Path(twins(1).toUri), new FsPermission(mode.toShort))
      withClue(f"$kind $mode%o: ") {
        perms(twins(1)) shouldBe perms(twins(0))
        perms(twins(1)) shouldBe want
      }
    }
    // a missing path fails on both sides
    val missing = new Path(dir.resolve("missing").toUri)
    an[java.io.IOException] should be thrownBy
      stock.setPermission(missing, new FsPermission(0x1a4.toShort))
    an[java.io.IOException] should be thrownBy
      noFork.setPermission(missing, new FsPermission(0x1a4.toShort))
  }

  test("setPermission: a sticky mode falls back to chmod; a plain one forks nothing") {
    val noFork = raw(new NoForkRawLocalFileSystem)
    val sticky = Files.createDirectory(tmpDir().resolve("sticky"))
    val (_, stickyForks, stickyCmds) = Measure.processStarts(
      noFork.setPermission(new Path(sticky.toUri), new FsPermission(0x3ff.toShort)))
    stickyCmds.count(isForkedFsCommand) shouldBe 1
    stickyForks should be >= 1
    Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0xfff shouldBe 0x3ff
    val plain = Files.createDirectory(tmpDir().resolve("plain"))
    val (_, _, plainCmds) = Measure.processStarts(
      noFork.setPermission(new Path(plain.toUri), new FsPermission(0x1ed.toShort)))
    plainCmds.filter(isForkedFsCommand) shouldBe empty
    perms(plain) shouldBe "rwxr-xr-x"
  }

  test("the session's file: FileSystem is the no-fork one") {
    FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .getClass shouldBe classOf[NoForkLocalFileSystem]
    new Path(tmpDir().toUri).getFileSystem(spark.sessionState.newHadoopConf())
      .getClass shouldBe classOf[NoForkLocalFileSystem]
  }

  test("checkpoint manager: FileSystem-based on file:, Spark's FileContext default otherwise") {
    val conf = spark.sessionState.newHadoopConf()
    CheckpointFileManager.create(new Path(tmpDir().toUri), conf) match {
      case m: LocalCheckpointFileManager =>
        m.delegate shouldBe a[FileSystemBasedCheckpointFileManager]
      case m => fail(s"not the engine's checkpoint manager: ${m.getClass}")
    }
    // a scheme-less path resolves against fs.defaultFS (never contacted)
    val hdfsDefault = new Configuration(conf)
    hdfsDefault.set("fs.defaultFS", "hdfs://localhost:1")
    new LocalCheckpointFileManager(new Path("/ckpt"), hdfsDefault)
      .delegate shouldBe a[FileContextBasedCheckpointFileManager]
  }

  test("createAtomic without overwrite on an existing file fails as Spark's manager does") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = tmpDir()
    // Spark's callers (HDFSMetadataLog) catch FileAlreadyExistsException;
    // its FileSystem-based manager throws a Spark subclass of it
    def attempt(fm: CheckpointFileManager, name: String): Unit = {
      val target = dir.resolve(name)
      Files.write(target, "kept".getBytes)
      val out = fm.createAtomic(new Path(target.toUri), false)
      out.write("new".getBytes)
      intercept[FileAlreadyExistsException](out.close())
      new String(Files.readAllBytes(target)) shouldBe "kept"
    }
    attempt(new LocalCheckpointFileManager(new Path(dir.toUri), conf), "ours")
    attempt(new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf),
      "sparks")
  }

  test("Sink partition files keep their .crc sidecars and default modes") {
    val path = tmpDir().resolve("tbl")
    def t(s: String) = Timestamp.valueOf(s)
    Sink.overwriteDatePartitions(Seq((1L, t("2024-01-01 05:00:00")),
      (2L, t("2024-01-02 06:00:00"))).toDF("id", "ts"), col("ts"), path.toString)
    val files = Files.walk(path).toArray.map(_.asInstanceOf[JPath]).toSeq
    val parts = files.filter(_.getFileName.toString.matches("part-.*\\.parquet"))
    parts should have size 2
    parts.foreach { p =>
      Files.exists(p.resolveSibling(s".${p.getFileName}.crc")) shouldBe true
      perms(p) shouldBe "rw-r--r--"
      perms(p.getParent) shouldBe "rwxr-xr-x"
    }
  }

  test("write-path queries start no chmod or readlink process") {
    val sf = "perfbench/data" // the repo's committed sf0.1 events table
    for (q <- Seq("q_stream_hourly", "q_sink_partition_overwrite", "q_quarantine")) {
      val (_, _, cmds) = Measure.processStarts(
        Measure.time(SparkEntry.queries(q)(spark, sf)))
      withClue(s"$q: ") { cmds.filter(isForkedFsCommand) shouldBe empty }
    }
  }
}
