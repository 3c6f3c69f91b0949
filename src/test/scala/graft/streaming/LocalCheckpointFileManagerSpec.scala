package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.SparkSpec
import graft.apps.MediationDrain
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

/** The contract of [[LocalCheckpointFileManager]]: the default manager's,
  * through java.nio. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def dir(): Path = new Path(Files.createTempDirectory("lcfm").toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String =
    Using.resource(fm.open(p))(in => new String(in.readAllBytes(), UTF_8))

  private def names(p: Path): Set[String] =
    Using.resource(Files.list(Paths.get(p.toUri)))(_.iterator.asScala
      .map(_.getFileName.toString).toSet)

  test("a write that may not overwrite raises Hadoop's FileAlreadyExistsException and keeps the first file") {
    val d = dir()
    val fm = new LocalCheckpointFileManager(d, conf)
    val f = new Path(d, "offsets/0")
    write(fm, f, "first", overwrite = false)
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next; a no-op after close
    assert(read(fm, f) === "first")
    assert(names(new Path(d, "offsets")) === Set("0"), "no temp file is left behind")
  }

  test("an overwrite replaces the file and drops a stale .crc sidecar") {
    val d = dir()
    val fm = new LocalCheckpointFileManager(d, conf)
    val f = new Path(d, "1.changelog")
    write(fm, f, "old", overwrite = true)
    Files.writeString(Paths.get(new Path(d, ".1.changelog.crc").toUri), "stale")
    write(fm, f, "new", overwrite = true)
    assert(read(fm, f) === "new")
    assert(names(d) === Set("1.changelog"))
  }

  test("cancel leaves neither the temp nor the target") {
    val d = dir()
    val fm = new LocalCheckpointFileManager(d, conf)
    val f = new Path(d, "commits/3")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel: it must not publish
    assert(!fm.exists(f))
    assert(names(new Path(d, "commits")).isEmpty)
  }

  test("list applies the filter and hides .crc sidecars") {
    val d = dir()
    val fm = new LocalCheckpointFileManager(d, conf)
    Seq("0", "1", "2.compact", "tmp").foreach(n => write(fm, new Path(d, n), n, overwrite = false))
    Files.writeString(Paths.get(new Path(d, ".0.crc").toUri), "sidecar")
    val numeric: PathFilter = p => p.getName.forall(_.isDigit)
    assert(fm.list(d, numeric).map(_.getPath.getName).toSet === Set("0", "1"))
    val all = fm.list(d)
    assert(all.map(_.getPath.getName).toSet === Set("0", "1", "2.compact", "tmp"))
    assert(all.forall(s => s.isFile && s.getLen > 0 && s.getPath.toUri.getScheme == "file"))
  }

  test("list of a missing dir throws FileNotFoundException, as the default does") {
    val missing = new Path(dir(), "absent")
    val default = new FileContextBasedCheckpointFileManager(missing, conf)
    intercept[FileNotFoundException](default.list(missing))
    intercept[FileNotFoundException](new LocalCheckpointFileManager(missing, conf).list(missing))
  }

  test("delete of a missing path is a no-op; delete removes a dir and a file's sidecar") {
    val d = dir()
    val fm = new LocalCheckpointFileManager(d, conf)
    fm.delete(new Path(d, "absent"))
    write(fm, new Path(d, "state/0/1.zip"), "zip", overwrite = false)
    write(fm, new Path(d, "5"), "five", overwrite = false)
    Files.writeString(Paths.get(new Path(d, ".5.crc").toUri), "sidecar")
    fm.delete(new Path(d, "state"))
    fm.delete(new Path(d, "5"))
    assert(names(d).isEmpty)
  }

  test("resume across managers: a checkpoint the default manager wrote resumes on the graft manager exactly once") {
    val (key, graftManager) = LocalCheckpointFileManager.Conf
    val default = classOf[FileContextBasedCheckpointFileManager].getName
    val saved = spark.conf.getOption(key)
    try {
      val drain = new MediationDrain(spark, "lcfm-resume")
      val (n1, n2) = (4000L, 2000L)
      drain.publish(n1)
      // run 1 on Spark's default manager, which start must leave alone
      spark.conf.set(key, default)
      drain.runUntil(1)
      assert(spark.conf.get(key) === default, "start replaced the caller's manager")
      val offsets = Paths.get(s"${drain.checkpointRoot}/analytics/offsets")
      assert(Using.resource(Files.list(offsets))(_.iterator.asScala
          .exists(_.getFileName.toString.endsWith(".crc"))),
        "run 1 did not write through the default manager (no .crc sidecars)")
      drain.publish(n2)
      // run 2 resumes the same checkpoint on the graft manager
      spark.conf.set(key, graftManager)
      drain.runUntil(n1 + n2)
      drain.assertExactlyOnce(n1 + n2)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
