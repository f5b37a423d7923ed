package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{CallsStreamPipeline, LocalCheckpointFs, StreamingOps}

/** The session's `file:` checkpoint filesystem against Hadoop's stock
  * `LocalFs`, both driven through `FileContext` as Spark's checkpoint
  * manager drives them: same bytes, names and modes on disk, same
  * overwrite and checksum failures, and checkpoints that move between
  * the two in either direction.
  */
class LocalCheckpointFsSpec extends SparkTestBase {
  import spark.implicits._

  private val implKey = GraftSession.LocalCheckpointFsConf._1.stripPrefix("spark.hadoop.")
  private val stock = classOf[LocalFs].getName
  private val forkFree = GraftSession.LocalCheckpointFsConf._2
  private val both = Seq(stock, forkFree)

  private def fileContext(impl: String, umask: String = "022"): FileContext = {
    val conf = new Configuration()
    conf.set(implKey, impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(conf)
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  // open(path, bufferSize): FilterFs routes the one-argument open past
  // ChecksumFs, so only this form verifies the .crc twin
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** name -> (mode, bytes) of every file under `dir`, hidden ones included. */
  private def onDisk(dir: JPath): Map[String, (String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }.toMap

  test("the session binds file: under FileContext to the fork-free filesystem") {
    val afs = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration).getDefaultFileSystem
    assert(afs.getClass === classOf[LocalCheckpointFs])
    assert(fileContext(stock).getDefaultFileSystem.getClass === classOf[LocalFs])
  }

  test("create and mkdir give the stock modes after umask, with the same .crc twins") {
    def layout(impl: String, umask: String): Map[String, (String, Seq[Byte])] = {
      val fc = fileContext(impl, umask)
      val dir = Files.createTempDirectory("fs-modes")
      val sub = new Path(dir.resolve("state/0").toString)
      fc.mkdir(sub, FsPermission.getDirDefault, true)
      write(fc, new Path(sub, "1.delta"), "delta-bytes")
      val out = fc.create(new Path(sub, "2.delta"), java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission("750")))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      onDisk(dir)
    }
    for (umask <- Seq("022", "077")) {
      val expected = layout(stock, umask)
      assert(layout(forkFree, umask) === expected, s"umask $umask")
      assert(expected.keySet === Set("state", "state/0", "state/0/1.delta", "state/0/.1.delta.crc",
        "state/0/2.delta", "state/0/.2.delta.crc"))
    }
    assert(layout(forkFree, "022")("state/0/1.delta")._1 === "rw-r--r--")
    assert(layout(forkFree, "022")("state/0/2.delta")._1 === "rwxr-x---")
    assert(layout(forkFree, "077")("state/0/1.delta")._1 === "rw-------")
  }

  test("rename refuses an existing target without OVERWRITE and replaces it with it") {
    for (impl <- both) {
      val fc = fileContext(impl)
      val dir = Files.createTempDirectory("fs-rename")
      val (tmp, dst) = (new Path(dir.resolve(".1.tmp").toString), new Path(dir.resolve("1").toString))
      write(fc, dst, "old")
      write(fc, tmp, "new")
      intercept[FileAlreadyExistsException](fc.rename(tmp, dst))
      assert(read(fc, dst) === "old", impl)
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(read(fc, dst) === "new", impl)
      assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet === Set("1", ".1.crc"),
        impl)
    }
  }

  test("a real symlink is still reported as a symlink") {
    val dir = Files.createTempDirectory("fs-link")
    val target = dir.resolve("target")
    Files.write(target, "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    for (p <- Seq(new Path(link.toString), new Path(link.toUri))) {
      val statuses = both.map(impl => fileContext(impl).getFileLinkStatus(p))
      assert(statuses.map(_.isSymlink).distinct.size === 1, p)
      assert(statuses.map(s => if (s.isSymlink) s.getSymlink.toString else "").distinct.size === 1, p)
    }
    val linkStatus = fileContext(forkFree).getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink && linkStatus.getSymlink.toUri.getPath === target.toString)
    assert(!fileContext(forkFree).getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a flipped byte in a written file raises ChecksumException on read") {
    for (impl <- both) {
      val fc = fileContext(impl)
      val f = Files.createTempDirectory("fs-crc").resolve("1.delta")
      write(fc, new Path(f.toString), "checksummed state delta")
      val bytes = Files.readAllBytes(f)
      bytes(3) = (bytes(3) ^ 0x20).toByte
      Files.write(f, bytes)
      intercept[ChecksumException](read(fc, new Path(f.toString)))
    }
  }

  test("a stateful checkpoint moves between stock LocalFs and the binding, both ways") {
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val batch0 = Seq(CallEvent(ts("10:05"), 600L, 3), CallEvent(ts("10:10"), 600L, 2))
    val batch1 = Seq(CallEvent(ts("10:20"), 600L, 3), CallEvent(ts("10:30"), 700L, 9))
    // one run per binding on the same checkpoint: the first writes batch 0,
    // the second restarts from it and must fold batch 1 into that state.
    // Returns the non-empty batches emitted and the checkpoint's layout
    // (file names with batch and partition numbers masked, and modes).
    def across(first: String, second: String): (Seq[Seq[String]], Set[(String, String)]) = {
      val ck = Files.createTempDirectory("ck-fs-compat")
      val emitted = new java.util.concurrent.CopyOnWriteArrayList[Seq[String]]()
      def run(impl: String, blocks: Seq[Seq[CallEvent]]): Unit = {
        val s = spark.newSession()
        s.conf.set(implKey, impl)
        val in = MemoryStream[CallEvent](s)
        blocks.foreach(in.addData(_))
        val agg = CallsStreamPipeline.aggregate(in.toDF())
          .select($"window.start".cast("string"), $"id_telef_origen", $"calls_count",
            $"max_duracion_origen", $"total_duracion_origen")
        val q = StreamingOps.changelogUpsertSink(agg, ck.toString) { (batch, _) =>
          val rows = batch.collect().map(_.mkString("|")).sorted.toSeq
          if (rows.nonEmpty) emitted.add(rows)
        }.start()
        try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
      }
      run(first, Seq(batch0))
      run(second, Seq(batch0, batch1))
      val layout = onDisk(ck).map { case (name, (mode, _)) => (name.replaceAll("[0-9]+", "N"), mode) }
      (emitted.asScala.toSeq, layout.toSet)
    }
    val expected = Seq(
      Seq("2024-01-01 10:00:00|600|2|3|5"),
      Seq("2024-01-01 10:00:00|600|3|3|8", "2024-01-01 10:00:00|700|1|9|9"))
    val (_, stockLayout) = across(stock, stock)
    // a state delta, Spark's checksum file of it, and a .crc twin of each
    assert(Seq("/N.delta", "/N.delta.crc", "/.N.delta.crc", "/.N.delta.crc.crc")
      .forall(sfx => stockLayout.exists(_._1.endsWith(sfx))), stockLayout)
    for (first <- both; second <- both) {
      val (out, layout) = across(first, second)
      assert(out === expected, s"$first -> $second")
      assert(layout === stockLayout, s"$first -> $second")
    }
  }
}
