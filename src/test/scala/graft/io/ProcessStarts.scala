package graft.io

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** The command line of every process the JVM starts while `body` runs,
  * read from a JFR recording of `jdk.ProcessStart` events alone — a
  * count, not a timing. */
object ProcessStarts {
  def during(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val dump = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
