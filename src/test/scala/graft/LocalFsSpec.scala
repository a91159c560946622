package graft

import graft.core.{LocalFs, Message, Pipeline}
import graft.ops.TfIdf
import graft.sinks.Sinks
import graft.sources.MemoryMessageSource
import graft.streaming.StreamingOps
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem ([[graft.core.LocalFs]]): bound under
  * both Hadoop APIs by [[Sessions.builder]], Hadoop's modes and rename
  * semantics, and no process launched on the durable write paths. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private val rootUri = new java.net.URI("file:///")

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private def crc(p: Path): Path = new Path(p.getParent, s".${p.getName}.crc")

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Command lines of the processes `body` started from Hadoop's `Shell`,
    * recorded with the JDK's `jdk.ProcessStart` event. */
  private def shellLaunches(body: => Unit): Seq[String] = {
    // Shell's static initializer runs one-time probes: keep them out
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("localfs-launches", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("file: resolves to the engine's classes under FileSystem and FileContext") {
    assert(FileSystem.get(rootUri, conf).getClass == classOf[LocalFs.FileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFs.Raw])
    assert(FileContext.getFileContext(rootUri, conf).getDefaultFileSystem.getClass ==
      classOf[LocalFs.Context])
  }

  test("files and directories get Hadoop's default modes under the umask, through both APIs") {
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    val root = new Path(Paths.get(tmpDir("localfs-modes")).toUri)
    val fs = FileSystem.get(rootUri, conf)
    val fc = FileContext.getFileContext(rootUri, conf)
    val fsDir = new Path(root, "fs-dir/sub")
    val fsFile = new Path(root, "fs-file")
    val fcDir = new Path(root, "fc-dir/sub")
    val fcFile = new Path(root, "fc-file")
    assert(fs.mkdirs(fsDir))
    write(fs, fsFile, "x")
    fc.mkdir(fcDir, FsPermission.getDirDefault, true)
    fc.create(fcFile, java.util.EnumSet.of(CreateFlag.CREATE)).close()
    for (d <- Seq(fsDir, fsDir.getParent, fcDir, fcDir.getParent))
      assert(mode(d) == dirMode, s"$d")
    for (f <- Seq(fsFile, crc(fsFile), fcFile, crc(fcFile)))
      assert(mode(f) == fileMode, s"$f")
    // an explicit mode lands exactly, on the file and its checksum
    fs.setPermission(fsFile, new FsPermission("640"))
    assert(mode(fsFile) == "rw-r-----" && mode(crc(fsFile)) == "rw-r-----")
    fc.setPermission(fcDir, new FsPermission("750"))
    assert(mode(fcDir) == "rwxr-x---")
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    val missing = new Path(Paths.get(tmpDir("localfs-missing")).toUri.toString, "nope")
    intercept[FileNotFoundException](
      FileSystem.get(rootUri, conf).setPermission(missing, new FsPermission("644")))
    intercept[FileNotFoundException](
      FileContext.getFileContext(rootUri, conf)
        .setPermission(missing, new FsPermission("644")))
  }

  test("FileContext rename-with-overwrite replaces the target and its checksum") {
    val root = new Path(Paths.get(tmpDir("localfs-rename")).toUri)
    val fs = FileSystem.get(rootUri, conf)
    val src = new Path(root, "src")
    val dst = new Path(root, "dst")
    write(fs, src, "new contents")
    write(fs, dst, "old")
    FileContext.getFileContext(rootUri, conf).rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fs.exists(src) && !fs.exists(crc(src)))
    // the checksummed read fails on a stale .crc
    assert(read(fs, dst) == "new contents")
    assert(fs.getFileLinkStatus(dst).getLen == "new contents".length)
  }

  test("no Shell process launch on the parquet, BM25 and streaming write paths") {
    // control: Hadoop's own raw filesystem does launch (chmod), so the
    // recording sees Shell launches when they happen
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val raw = new RawLocalFileSystem()
      raw.initialize(rootUri, conf)
      val f = new Path(Paths.get(tmpDir("localfs-control")).toUri.toString, "f")
      val control = shellLaunches(raw.create(f).close())
      assert(control.exists(_.contains("chmod")), control)
    }

    val parquetOut = tmpDir("localfs-parquet") + "/out"
    val parquet = shellLaunches(spark.range(100).write.parquet(parquetOut))
    assert(parquet.isEmpty, parquet)
    assert(spark.read.parquet(parquetOut).count() == 100)

    val docs = Tables.documents(spark, sf)
    val tbl = "graft_spec_localfs_bm25"
    try {
      TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", tbl, tableBuckets = 4)
      val bm25 = shellLaunches {
        TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 3 === 2),
          "doc_id", "text", tbl, tableBuckets = 4)
        TfIdf.searchIndexDelete(spark, tbl,
          docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
      }
      assert(bm25.isEmpty, bm25)
      assert(spark.table(tbl + "_del").count() ==
        docs.filter(col("doc_id") % 5 === 0).count())
    } finally
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))

    // three micro-batches, each with one in-batch re-delivery, through a
    // checkpointed watermark dedup into the idempotent parquet sink
    val src = new MemoryMessageSource(spark)
    val sinkOut = tmpDir("localfs-sink") + "/out"
    val sink = Sinks.IdempotentSink(Sinks.ParquetSink(sinkOut),
      tmpDir("localfs-manifest"))
    val t0 = 1700000000000L
    val streaming = shellLaunches {
      val q = Pipeline.from(src)
        .via(df => StreamingOps.dedupWithinWatermark(
          df.withColumn("event_time",
            timestamp_millis(col("value").cast("string").cast("long"))),
          "event_time", "5 seconds", Seq("key")))
        .via(_.select("key", "event_time"))
        .withCheckpoint(tmpDir("localfs-ckpt"))
        .start(spark, sink)
      try for (b <- 0 until 3) {
        val msgs = (0 until 10).map(i =>
          Message.ofString(s"k$b-$i", (t0 + b * 1000L + i).toString))
        src.add(msgs :+ msgs.head)
        q.processAllAvailable()
      } finally { q.stop(); q.awaitTermination() }
    }
    assert(streaming.isEmpty, streaming)
    assert(spark.read.parquet(sinkOut).as[(String, java.sql.Timestamp)]
      .collect().map(_._1).sorted.toSeq ==
      (for (b <- 0 until 3; i <- 0 until 10) yield s"k$b-$i").sorted)
  }
}
