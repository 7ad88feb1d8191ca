package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.streaming.GraftCheckpointFileManager

/** A local filesystem under a scheme of its own, reachable through
  * `FileContext`: stands in for a remote store (HDFS, S3) without a network.
  */
class OtherSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "graftother", false)

/** Contract of graft's checkpoint file manager: the properties Spark's
  * default manager gives a checkpoint (checksums, atomic rename, no silent
  * overwrite, clean cancel) hold for `file:` paths, and every other scheme
  * still gets Spark's own manager.
  */
class CheckpointFileManagerSpec extends SparkSpecBase {
  private def newDir(): java.nio.file.Path = Files.createTempDirectory("graft-cfm")
  private def manager(dir: java.nio.file.Path,
      conf: Configuration = spark.sessionState.newHadoopConf()): CheckpointFileManager =
    CheckpointFileManager.create(new Path(s"file:$dir"), conf)
  private def file(dir: java.nio.file.Path, name: String): Path = new Path(s"file:$dir/$name")
  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).toArray.map(_.toString.split('/').last).toSet
  private def write(fm: CheckpointFileManager, p: Path, body: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("graft sessions resolve file: checkpoints to graft's local manager") {
    val fm = manager(newDir())
    assert(fm.isInstanceOf[GraftCheckpointFileManager], fm.getClass.getName)
    val inner = fm.asInstanceOf[GraftCheckpointFileManager].delegate
    assert(inner.isInstanceOf[FileSystemBasedCheckpointFileManager], inner.getClass.getName)
    assert(fm.isLocal)
    // a scheme-less path resolves through the default filesystem (file:)
    assert(GraftCheckpointFileManager.resolve(new Path("/tmp/x"), new Configuration())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a non-file: path resolves to Spark's default manager") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.AbstractFileSystem.graftother.impl", classOf[OtherSchemeFs].getName)
    val p = new Path(s"graftother://${newDir()}")
    val inner = new GraftCheckpointFileManager(p, conf).delegate
    assert(inner.isInstanceOf[FileContextBasedCheckpointFileManager], inner.getClass.getName)
    val sparkDefault = new Configuration(conf)
    sparkDefault.unset(GraftCheckpointFileManager.ConfKey)
    assert(inner.getClass == CheckpointFileManager.create(p, sparkDefault).getClass)
  }

  test("a committed file has its .crc sidecar, the configured umask's mode, and no temp files") {
    val dir = newDir()
    // a umask the process does not run with, so the mode must be set
    val conf = spark.sessionState.newHadoopConf()
    conf.set(FsPermission.UMASK_LABEL, "077")
    val fm = manager(dir, conf)
    write(fm, file(dir, "0"), "v1\n{\"offset\":1}")
    assert(read(fm, file(dir, "0")) == "v1\n{\"offset\":1}")
    assert(names(dir) == Set("0", ".0.crc"))
    Seq("0", ".0.crc").foreach { f =>
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve(f))) ==
        "rw-------", f)
    }
  }

  test("a corrupted committed file fails the read") {
    val dir = newDir()
    val fm = manager(dir)
    val p = file(dir, "state.delta")
    write(fm, p, "x" * 300)
    val bytes = Files.readAllBytes(dir.resolve("state.delta"))
    bytes(100) = 'y'.toByte
    Files.write(dir.resolve("state.delta"), bytes)
    intercept[ChecksumException](read(fm, p))
  }

  test("a no-overwrite write onto an existing file throws and keeps the original") {
    val dir = newDir()
    val fm = manager(dir)
    val p = file(dir, "1")
    write(fm, p, "original")
    intercept[FileAlreadyExistsException](write(fm, p, "replacement"))
    assert(read(fm, p) == "original")
    write(fm, p, "replacement", overwrite = true)
    assert(read(fm, p) == "replacement")
  }

  test("cancel() leaves no file") {
    val dir = newDir()
    val fm = manager(dir)
    val out = fm.createAtomic(file(dir, "2"), false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(names(dir).isEmpty, names(dir))
  }
}
