package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore

import graft.SparkSpec

/** The engine's checkpoint file manager ([[LocalCheckpointFileManager]]):
  * which paths it takes, that it writes what Spark's default manager
  * writes, and that a checkpointed stream forks no process. */
class CheckpointIoSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopConf: Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def fileUri(p: JPath): Path = new Path(p.toUri)

  private def bits(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a GraftSession resolves file: checkpoints to the engine manager, other schemes to Spark's") {
    val conf = hadoopConf
    val local = CheckpointFileManager.create(new Path("file:/tmp/graft-ckpt"), conf)
    assert(local.isInstanceOf[LocalCheckpointFileManager], local.getClass)
    assert(local.isLocal)
    conf.set("fs.AbstractFileSystem.nonlocal.impl", classOf[CheckpointIoSpec.NonLocalFs].getName)
    val other = CheckpointFileManager.create(new Path("nonlocal:/tmp/graft-ckpt"), conf)
    other match {
      case m: LocalCheckpointFileManager =>
        assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager], m.delegate.getClass)
      case m => fail(s"not the engine manager: ${m.getClass}")
    }
  }

  test("files and directories get Hadoop's default bits after umask, each file a .crc sidecar") {
    val conf = hadoopConf
    // a umask other than the process's own, so the bits must be set explicitly
    conf.set(FsPermission.UMASK_LABEL, "027")
    val umask = FsPermission.getUMask(conf)
    val root = Files.createTempDirectory("ckpt-io")
    val fm = CheckpointFileManager.create(fileUri(root), conf)
    val dir = root.resolve("offsets").resolve("0")
    fm.mkdirs(fileUri(dir))
    val out = fm.createAtomic(fileUri(dir.resolve("1")), overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    out.close()

    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toString
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toString
    assert((dirBits, fileBits) == (("rwxr-x---", "rw-r-----")))
    assert(bits(root.resolve("offsets")) == dirBits)
    assert(bits(dir) == dirBits)
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet == Set("1", ".1.crc"))
    assert(bits(dir.resolve("1")) == fileBits)
    assert(bits(dir.resolve(".1.crc")) == fileBits)
    assert(new String(fm.open(fileUri(dir.resolve("1"))).readAllBytes(), "UTF-8") == "v1")
  }

  test("createAtomic without overwrite refuses an existing file; cancel leaves no temp file") {
    val root = Files.createTempDirectory("ckpt-io")
    val fm = CheckpointFileManager.create(fileUri(root), hadoopConf)
    val target = fileUri(root.resolve("1"))
    val first = fm.createAtomic(target, overwriteIfPossible = false)
    first.write("v1".getBytes("UTF-8"))
    first.close()
    val second = fm.createAtomic(target, overwriteIfPossible = false)
    second.write("v2".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](second.close())
    assert(new String(fm.open(target).readAllBytes(), "UTF-8") == "v1")

    val cancelled = Files.createDirectory(root.resolve("cancelled"))
    val c = fm.createAtomic(fileUri(cancelled.resolve("2")), overwriteIfPossible = false)
    c.write("v3".getBytes("UTF-8"))
    c.cancel()
    assert(Files.list(cancelled).count() == 0, "cancel left files behind")
  }

  test("a checkpointed SupplierStatsStream run starts no process") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt-jfr").toString
    val mem = MemoryStream[String]
    def order(i: Int, sec: Int): String =
      f"""{"order_id":"o$i","bid_time":"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d",""" +
        s""""price":${i % 7}.5,"item":"thing","supplier":"s${i % 3}"}"""

    // the executor heartbeat's first metrics poll runs `getconf PAGESIZE`
    // once per JVM; take it before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // state stores earlier suites left loaded are closed by the background
    // maintenance once idle, and a RocksDB one then forks `rm -rf` of its
    // local directory; close them now so the recording sees only this run
    StateStore.stop()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val q = SupplierStatsStream.stats(SupplierStatsStream.parseOrders(mem.toDF()))
      .writeStream.format("memory").queryName("checkpoint_io")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val events = try {
      (0 until 5).foreach { b =>
        mem.addData((0 until 20).map(i => order(b * 20 + i, b * 10 + i % 10)))
        q.processAllAvailable()
      }
      assert(q.lastProgress.batchId >= 4)
      assert(spark.table("checkpoint_io").count() > 0, "no window closed")
      q.stop()
      rec.stop()
      val dump = Files.createTempFile("ckpt-io", ".jfr")
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(CheckpointIoSpec.fromJdkCleaner).toSeq
    } finally {
      q.stop()
      rec.close()
    }
    assert(events.isEmpty, events.take(3).map(e => e.getString("command") + "\n" + e.getStackTrace)
      .mkString(s"${events.size} processes started, the first:\n", "\n", ""))
  }
}

object CheckpointIoSpec {

  /** A process started by a `java.lang.ref.Cleaner` action, which runs
    * when some object becomes unreachable, whenever the GC gets to it: a
    * dropped SparkSession's `ArtifactManager` removes its artifact
    * directory with `rm -rf` that way. Earlier suites leave such sessions
    * behind; none of it is checkpoint I/O. */
  def fromJdkCleaner(e: RecordedEvent): Boolean =
    e.getStackTrace != null && e.getStackTrace.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("jdk.internal.ref.CleanerImpl"))

  /** A non-`file:` scheme served from local disk, so the spec can resolve
    * a non-local checkpoint manager without a remote file system. */
  class NonLocalFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "nonlocal", false)
}
