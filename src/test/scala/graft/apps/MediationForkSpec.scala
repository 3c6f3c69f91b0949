package graft.apps

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/**
 * Fork regression: without libhadoop, Hadoop's local file system starts a
 * `readlink` or `chmod` process for each checkpoint file Spark's default
 * checkpoint manager writes. A short bus drain through `MediationApp.start`
 * is recorded with JFR (`jdk.ProcessStart`, with stack traces) and no
 * process start may come from a checkpoint file manager: not from the
 * offsets, commits or source logs, nor from the state-store commit.
 */
class MediationForkSpec extends SparkSpec {

  private def fromCheckpointManager(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.contains("CheckpointFileManager")))

  test("a mediation drain starts no process from a checkpoint file manager") {
    val drain = new MediationDrain(spark, "medfork")
    val n = 2000L
    drain.publish(n)
    val jfr = Files.createTempFile("medfork", ".jfr")
    val recording = new Recording()
    val events =
      try {
        recording.enable("jdk.ProcessStart").withStackTrace()
        recording.start()
        try drain.runUntil(n) finally recording.stop()
        recording.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.toSeq
      } finally {
        recording.close()
        Files.deleteIfExists(jfr)
      }
    val forks = events.filter(_.getEventType.getName == "jdk.ProcessStart")
    val offending = forks.filter(fromCheckpointManager)
    info(s"${forks.size} process starts in the drain, ${offending.size} from a checkpoint file manager")
    drain.assertExactlyOnce(n)
    assert(offending.isEmpty,
      s"${offending.size} process starts from a checkpoint file manager, e.g. " +
        offending.headOption.map(_.getString("command")).getOrElse(""))
  }
}
